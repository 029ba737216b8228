"""Web front-end (reference api.py:82-160): POST /run-etl (upload or
generate) -> background job -> zip download; GET /status/{id} poll;
GET /download/{id}.

The endpoint logic (`submit_job` / `status_payload` / `download_payload`)
is framework-free; `create_app()` returns `MiniApp`, a dependency-free ASGI
app serving those routes (query params + multipart upload parsed with the
stdlib). Any ASGI server runs it (uvicorn in Docker, the stdlib bridge in
plans/serve.py), and the full POST -> poll -> download flow is
endpoint-testable without a web framework (tests/test_drivers.py). Job
state lives in a module dict keyed by session id (reference api.py:26),
one shared SparkSession serves all jobs, and each job gets its own output
dir + zip."""

from __future__ import annotations

import email.parser
import json
import os
import shutil
import tempfile
import threading
import urllib.parse
import uuid
import zipfile

JOBS: dict[str, dict] = {}


def run_etl_job(spark, session_id: str, config: dict, workdir: str) -> None:
    """Background task body (reference api.py:41-78): run the pipeline into
    a per-session dir, zip the outputs, record status."""
    from .pipeline import Pipeline

    try:
        out_dir = os.path.join(workdir, session_id)
        config = {**config, "output": {**config["output"], "path": out_dir}}
        Pipeline(config, spark).run()
        zip_path = os.path.join(workdir, f"{session_id}.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for name in os.listdir(out_dir):
                zf.write(os.path.join(out_dir, name), name)
        shutil.rmtree(out_dir, ignore_errors=True)
        JOBS[session_id] = {"status": "completed", "download": f"/download/{session_id}", "zip": zip_path}
    except Exception as exc:  # noqa: BLE001 - job boundary
        JOBS[session_id] = {"status": "failed", "error": str(exc)}


# --- framework-free endpoint logic -------------------------------------------


def prepare_job(
    workdir: str, rows: int, formats: str, upload: tuple[str, bytes] | None
) -> tuple[str, dict]:
    """POST /run-etl body minus scheduling: save the upload (or configure
    generation), record the job as running, return (session_id, config)
    (reference api.py:100-139). The caller schedules `run_etl_job` with its
    own background mechanism (FastAPI BackgroundTasks / a thread)."""
    session_id = uuid.uuid4().hex
    if upload is not None:
        filename, data = upload
        suffix = os.path.splitext(filename or "upload.csv")[1]
        src_path = os.path.join(workdir, f"{session_id}{suffix}")
        with open(src_path, "wb") as fh:
            fh.write(data)
        source = {"type": "file", "path": src_path}
    else:
        source = {"type": "generate", "rows": rows}
    config = {"source": source, "output": {"path": "", "format": formats}}
    JOBS[session_id] = {"status": "running"}
    return session_id, config


def _service_descriptor() -> dict:
    """GET / payload — the reference serves its HTML UI here (api.py:82-89);
    the rebuild serves a machine-readable route map (also the Docker
    healthcheck target) and puts the human console at GET /ui."""
    return {
        "service": "laposte-etl-pyspark",
        "routes": {
            "ui": "GET /ui (browser console: upload-or-generate -> formats -> run -> download)",
            "run": "POST /run-etl?rows=N&formats=all|all_but_xlsx|csv|... (optional multipart file)",
            "status": "GET /status/{session_id}",
            "download": "GET /download/{session_id}",
        },
    }


_WEB_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "web")


def web_asset(name: str) -> tuple[bytes, str]:
    """(bytes, content-type) of a bundled web-console asset — the rebuild's
    twin of the reference's templates/index.html + static/style.css
    (same three-step flow, own markup/script)."""
    kinds = {".html": "text/html; charset=utf-8", ".css": "text/css; charset=utf-8"}
    with open(os.path.join(_WEB_DIR, name), "rb") as fh:
        return fh.read(), kinds[os.path.splitext(name)[1]]


def status_payload(session_id: str) -> tuple[int, dict]:
    """GET /status/{id} (reference api.py:141-147)."""
    job = JOBS.get(session_id)
    if job is None:
        return 404, {"status": "unknown"}
    return 200, {k: v for k, v in job.items() if k != "zip"}


def download_path(session_id: str) -> tuple[int, str | dict]:
    """GET /download/{id} -> (200, zip path) or (404, error payload)
    (reference api.py:149-160)."""
    job = JOBS.get(session_id)
    if not job or job.get("status") != "completed":
        return 404, {"error": "not ready"}
    return 200, job["zip"]


ROUTES = [("POST", "/run-etl"), ("GET", "/status/{session_id}"), ("GET", "/download/{session_id}")]


# --- dependency-free ASGI app ------------------------------------------------


def _parse_multipart(content_type: str, body: bytes) -> tuple[str, bytes] | None:
    """First file part of a multipart/form-data body via the stdlib email
    parser (an HTTP multipart body IS a MIME multipart payload)."""
    msg = email.parser.BytesParser().parsebytes(
        b"Content-Type: " + content_type.encode("latin-1") + b"\r\n\r\n" + body
    )
    if not msg.is_multipart():
        return None
    for part in msg.get_payload():
        disposition = part.get("Content-Disposition", "")
        if "filename=" in disposition:
            filename = part.get_filename() or "upload.csv"
            return filename, part.get_payload(decode=True) or b""
    return None


class MiniApp:
    """Minimal ASGI implementation of the three endpoints. Speaks enough of
    the ASGI http protocol for any ASGI server or test client: reads the
    full request body, dispatches on (method, path), responds JSON (or the
    zip bytes for /download). Other scope types (a server's `lifespan`
    probe, websockets) are ignored: the app needs no startup or shutdown
    hook, and a server treats an app that returns on `lifespan` as one
    without lifespan support."""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir

    async def __call__(self, scope, receive, send):
        if scope["type"] != "http":
            return
        body = b""
        while True:
            message = await receive()
            body += message.get("body", b"")
            if not message.get("more_body"):
                break
        method, path = scope["method"], scope["path"]
        if method == "GET" and path == "/":
            status, payload = 200, _service_descriptor()
        elif method == "GET" and path == "/ui":
            body_bytes, ctype = web_asset("index.html")
            await _respond(send, 200, body_bytes, ctype)
            return
        elif method == "GET" and path == "/static/app.css":
            body_bytes, ctype = web_asset("app.css")
            await _respond(send, 200, body_bytes, ctype)
            return
        elif method == "POST" and path == "/run-etl":
            status, payload = self._run_etl(scope, body)
        elif method == "GET" and path.startswith("/status/"):
            status, payload = status_payload(path[len("/status/") :])
        elif method == "GET" and path.startswith("/download/"):
            status, payload = download_path(path[len("/download/") :])
            if status == 200:
                with open(payload, "rb") as fh:
                    await _respond(send, 200, fh.read(), "application/zip")
                return
        else:
            status, payload = 404, {"error": "no such route"}
        await _respond(send, status, json.dumps(payload).encode(), "application/json")

    def _run_etl(self, scope, body: bytes) -> tuple[int, dict]:
        params = dict(urllib.parse.parse_qsl(scope.get("query_string", b"").decode()))
        headers = {k.decode().lower(): v.decode() for k, v in scope.get("headers", [])}
        upload = None
        content_type = headers.get("content-type", "")
        if body and content_type.startswith("multipart/form-data"):
            upload = _parse_multipart(content_type, body)
        session_id, config = prepare_job(
            self.workdir,
            rows=int(params.get("rows", 1000)),
            formats=params.get("formats", "all"),
            upload=upload,
        )
        threading.Thread(
            target=run_etl_job,
            args=(self.spark, session_id, config, self.workdir),
            daemon=True,
        ).start()
        return 200, {"session_id": session_id}


async def _respond(send, status: int, body: bytes, content_type: str) -> None:
    await send(
        {
            "type": "http.response.start",
            "status": status,
            "headers": [(b"content-type", content_type.encode())],
        }
    )
    await send({"type": "http.response.body", "body": body})


# --- app factory --------------------------------------------------------------


def create_app(spark=None, workdir: str | None = None) -> MiniApp:
    """Build the web app: one `MiniApp` over a shared SparkSession and a
    job working directory."""
    from ..session import get_spark

    spark = spark or get_spark(app_name="laposte_etl_api")
    workdir = workdir or tempfile.mkdtemp(prefix="laposte_api_")
    return MiniApp(spark, workdir)
