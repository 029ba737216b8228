"""Launchable web server for the ETL API (reference start.sh: uvicorn
api:app --host 0.0.0.0 --port 80).

    python -m laposte_data_engineering_jedha_spark.plans.serve --port 8000

`create_app()` returns the ASGI `MiniApp`. When uvicorn is importable it
serves that app; otherwise a dependency-free stdlib bridge
(`run_stdlib_server`) maps http.server requests onto the ASGI protocol —
enough for the three JSON/zip endpoints, so the API is launchable in any
environment that can run the engine itself. The bridge is a fallback, not
a production server: uvicorn (the Docker path) is the real front door.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _make_handler(app):
    class AsgiHandler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):  # quiet: one line per request
            print(f"{self.address_string()} {fmt % args}")

        def _handle(self) -> None:
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length) if length else b""
            path, _, query = self.path.partition("?")
            scope = {
                "type": "http",
                "http_version": "1.1",
                "method": self.command,
                "path": path,
                "raw_path": self.path.encode(),
                "query_string": query.encode(),
                "headers": [
                    (k.lower().encode(), v.encode()) for k, v in self.headers.items()
                ],
            }
            sent = {"done": False}
            messages: list[dict] = []

            async def receive():
                return {"type": "http.request", "body": body, "more_body": False}

            async def send(message):
                messages.append(message)

            try:
                asyncio.run(app(scope, receive, send))
            except Exception as exc:  # noqa: BLE001 - server boundary
                if not sent["done"]:
                    err = json.dumps({"error": str(exc)}).encode()
                    self.send_response(500)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(err)))
                    self.end_headers()
                    self.wfile.write(err)
                return

            status, headers, chunks = 500, [], []
            for message in messages:
                if message["type"] == "http.response.start":
                    status = message["status"]
                    headers = message.get("headers", [])
                elif message["type"] == "http.response.body":
                    chunks.append(message.get("body", b""))
            data = b"".join(chunks)
            self.send_response(status)
            seen_len = False
            for key, value in headers:
                if key.lower() == b"content-length":
                    seen_len = True
                self.send_header(key.decode(), value.decode())
            if not seen_len:
                self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            sent["done"] = True

        do_GET = _handle
        do_POST = _handle

    return AsgiHandler


def run_stdlib_server(app, host: str, port: int) -> ThreadingHTTPServer:
    """Start the stdlib ASGI bridge in a daemon thread; returns the server
    (caller owns shutdown). Split from `main` so tests can drive a real
    HTTP round-trip without blocking."""
    server = ThreadingHTTPServer((host, port), _make_handler(app))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(prog="laposte-serve")
    parser.add_argument("--host", default="0.0.0.0")
    parser.add_argument("--port", type=int, default=8000)
    args = parser.parse_args(argv)

    from .webapi import create_app

    app = create_app()
    try:
        import uvicorn

        uvicorn.run(app, host=args.host, port=args.port)
    except ImportError:
        server = run_stdlib_server(app, args.host, args.port)
        print(f"stdlib ASGI bridge serving on http://{args.host}:{args.port}")
        try:
            threading.Event().wait()
        except KeyboardInterrupt:
            server.shutdown()


if __name__ == "__main__":
    main()
