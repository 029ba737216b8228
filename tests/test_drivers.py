"""Driver-layer tests: web-API background job body (fastapi-free) and the
reference-shaped benchmark matrix."""

from __future__ import annotations

import csv
import zipfile

import pytest

from laposte_data_engineering_jedha_spark.plans import webapi


def test_web_job_completes_and_zips(spark, tmp_path, monkeypatch):
    from laposte_data_engineering_jedha_spark.plans import pipeline as pl
    from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient

    # pipeline built inside the job: inject the offline weather client
    orig_init = pl.Pipeline.__init__

    def patched(self, config, spark_, weather_client=None, **kw):
        orig_init(self, config, spark_, weather_client=FakeWeatherClient(), **kw)

    monkeypatch.setattr(pl.Pipeline, "__init__", patched)
    monkeypatch.setattr(webapi, "JOBS", {})

    config = {"source": {"type": "generate", "rows": 50, "seed": 1},
              "output": {"path": "", "format": "parquet"}}
    webapi.run_etl_job(spark, "sess1", config, str(tmp_path))

    job = webapi.JOBS["sess1"]
    assert job["status"] == "completed"
    assert job["download"] == "/download/sess1"
    with zipfile.ZipFile(job["zip"]) as zf:
        names = zf.namelist()
    assert "results_manifest.json" in names
    assert any(n.startswith("deliveries.parquet") for n in names)


def test_web_job_records_failure(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(webapi, "JOBS", {})
    bad = {"source": {"type": "file", "path": "/nonexistent.csv"},
           "output": {"path": "", "format": "parquet"}}
    webapi.run_etl_job(spark, "sess2", bad, str(tmp_path))
    assert webapi.JOBS["sess2"]["status"] == "failed"
    assert webapi.JOBS["sess2"]["error"]


# --- endpoint-level web API tests (stub ASGI client, no fastapi needed) ------


def _asgi_call(app, method, path, query=b"", body=b"", headers=()):
    """Drive one request through any ASGI app, return (status, body bytes)."""
    import asyncio

    scope = {
        "type": "http",
        "method": method,
        "path": path,
        "query_string": query,
        "headers": list(headers),
    }
    messages = [{"type": "http.request", "body": body, "more_body": False}]
    out = {"status": None, "body": b""}

    async def receive():
        return messages.pop(0)

    async def send(message):
        if message["type"] == "http.response.start":
            out["status"] = message["status"]
        elif message["type"] == "http.response.body":
            out["body"] += message.get("body", b"")

    asyncio.run(app(scope, receive, send))
    return out["status"], out["body"]


@pytest.fixture()
def webapp(spark, tmp_path, monkeypatch):
    from laposte_data_engineering_jedha_spark.plans import pipeline as pl
    from laposte_data_engineering_jedha_spark.sources.weather import FakeWeatherClient

    orig_init = pl.Pipeline.__init__

    def patched(self, config, spark_, weather_client=None, **kw):
        orig_init(self, config, spark_, weather_client=FakeWeatherClient(), **kw)

    monkeypatch.setattr(pl.Pipeline, "__init__", patched)
    monkeypatch.setattr(webapi, "JOBS", {})
    return webapi.create_app(spark=spark, workdir=str(tmp_path))


def _poll_until_done(app, session_id, timeout_s=120):
    import json
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        status, body = _asgi_call(app, "GET", f"/status/{session_id}")
        assert status == 200
        payload = json.loads(body)
        if payload["status"] != "running":
            return payload
        time.sleep(0.3)
    raise AssertionError("job did not finish in time")


def test_webapi_run_status_download_flow(webapp):
    """The reference's full client flow (api.py:100-160): POST /run-etl ->
    poll GET /status/{id} -> GET /download/{id} returns the results zip."""
    import io
    import json

    status, body = _asgi_call(
        webapp, "POST", "/run-etl", query=b"rows=30&formats=parquet"
    )
    assert status == 200
    session_id = json.loads(body)["session_id"]

    payload = _poll_until_done(webapp, session_id)
    assert payload["status"] == "completed"
    assert payload["download"] == f"/download/{session_id}"

    status, body = _asgi_call(webapp, "GET", f"/download/{session_id}")
    assert status == 200
    with zipfile.ZipFile(io.BytesIO(body)) as zf:
        names = zf.namelist()
    assert "results_manifest.json" in names
    assert any(n.startswith("deliveries.parquet") for n in names)


def test_webapi_upload_multipart(webapp):
    """POST /run-etl with a multipart CSV upload (reference api.py:117-124)."""
    import io
    import json

    csv_bytes = (
        b"Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone\n"
        b"SC1000,2025-09-05T10:00:00,2025-09-05T11:30:00,Large,10.0,Urban\n"
    )
    boundary = "testboundary42"
    body = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="one.csv"\r\n'
        "Content-Type: text/csv\r\n\r\n"
    ).encode() + csv_bytes + f"\r\n--{boundary}--\r\n".encode()
    status, resp = _asgi_call(
        webapp,
        "POST",
        "/run-etl",
        query=b"formats=csv",
        body=body,
        headers=[(b"content-type", f"multipart/form-data; boundary={boundary}".encode())],
    )
    assert status == 200
    session_id = json.loads(resp)["session_id"]
    payload = _poll_until_done(webapp, session_id)
    assert payload["status"] == "completed"

    status, body = _asgi_call(webapp, "GET", f"/download/{session_id}")
    with zipfile.ZipFile(io.BytesIO(body)) as zf:
        csv_out = [n for n in zf.namelist() if n.startswith("deliveries.csv")]
        assert csv_out
        content = zf.read(csv_out[0]).decode()
    assert "SC1000" in content and content.count("\n") == 2  # header + 1 row


def test_webapi_unknown_session_and_route(webapp):
    status, _ = _asgi_call(webapp, "GET", "/status/nope")
    assert status == 404
    status, _ = _asgi_call(webapp, "GET", "/download/nope")
    assert status == 404
    status, _ = _asgi_call(webapp, "GET", "/teapot")
    assert status == 404


def test_webapi_root_descriptor(webapp):
    """GET / is the healthcheck target of the Docker deployment shell."""
    import json

    status, body = _asgi_call(webapp, "GET", "/")
    assert status == 200
    payload = json.loads(body)
    assert payload["service"] == "laposte-etl-pyspark"
    assert set(payload["routes"]) == {"ui", "run", "status", "download"}


def test_serve_stdlib_bridge_http_roundtrip(webapp):
    """plans/serve.py's stdlib ASGI bridge over real sockets: the
    deployment path this container actually uses (uvicorn absent). Drives
    GET / and the POST -> poll -> download flow through genuine HTTP."""
    import io
    import json
    import time
    import urllib.request

    from laposte_data_engineering_jedha_spark.plans.serve import run_stdlib_server

    server = run_stdlib_server(webapp, "127.0.0.1", 0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(f"{base}/") as resp:
            assert resp.status == 200
            assert json.load(resp)["service"] == "laposte-etl-pyspark"
        req = urllib.request.Request(f"{base}/run-etl?rows=20&formats=json", method="POST")
        with urllib.request.urlopen(req) as resp:
            session_id = json.load(resp)["session_id"]
        for _ in range(100):
            with urllib.request.urlopen(f"{base}/status/{session_id}") as resp:
                payload = json.load(resp)
            if payload["status"] != "running":
                break
            time.sleep(0.3)
        assert payload["status"] == "completed"
        with urllib.request.urlopen(f"{base}/download/{session_id}") as resp:
            data = resp.read()
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            assert "results_manifest.json" in zf.namelist()
    finally:
        server.shutdown()


def test_benchmark_matrix_shape(spark, tmp_path, monkeypatch):
    """Reference harness contract (benchmarks.py:13-89): rows x format grid,
    warm-up run, per-run seconds, results CSV."""
    from laposte_data_engineering_jedha_spark.plans import benchmarks

    monkeypatch.setattr(benchmarks, "get_spark", lambda **kw: spark)
    out_csv = str(tmp_path / "bench.csv")
    results = benchmarks.run_matrix([100, 200], ["parquet"], out_csv)
    assert [(r["rows"], r["format"]) for r in results] == [(100, "parquet"), (200, "parquet")]
    assert all(r["seconds"] > 0 for r in results)
    with open(out_csv) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 2 and rows[0]["rows"] == "100"


def test_registry_is_name_sorted_and_oracle_required():
    """The driver contract orders the registry by query name (the external
    driver hash-checks the first 50), oracle_sql() has the same keys in the
    same order, no query registers without its oracle, and every query
    takes exactly the `(spark, sf_dir)` that QueryFn declares — a
    per-call switch would be a branch the driver never runs."""
    import inspect

    from laposte_data_engineering_jedha_spark import queries as q

    assert list(q.queries()) == sorted(q.SPARK_QUERIES)
    assert list(q.oracle_sql()) == list(q.queries())
    assert {
        name: list(inspect.signature(fn).parameters)
        for name, fn in q.queries().items()
        if list(inspect.signature(fn).parameters) != ["spark", "sf_dir"]
    } == {}
    with pytest.raises(TypeError):
        q.query("x")


def test_table_schema_memo_sees_same_size_rewrite(spark, tmp_path):
    """table()'s schema memo re-infers after a rewrite that keeps both the
    file size and the mtime (a copy that preserves mtime): the memo keys
    on the path and checks the file's ctime and inode too."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from laposte_data_engineering_jedha_spark import queries as q

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert q.table(spark, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    pq.write_table(pa.table({"b": [1, 2, 3]}), path)
    assert os.path.getsize(path) == st.st_size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    df = q.table(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert sorted(r["b"] for r in df.collect()) == [1, 2, 3]


def test_webapi_serves_console_ui(webapp):
    """GET /ui serves the browser console (the reference's templates/
    index.html twin) and GET /static/app.css its stylesheet; the console
    drives only the three JSON routes, so route coverage above covers its
    backend."""
    status, body = _asgi_call(webapp, "GET", "/ui")
    assert status == 200
    html = body.decode()
    for marker in ("/run-etl", "/status/", "/download/", "source-file",
                   "gen-rows", "formats", "Run pipeline"):
        assert marker in html, marker

    status, css = _asgi_call(webapp, "GET", "/static/app.css")
    assert status == 200
    assert b".spinner" in css and b".filebox" in css


def test_webapi_ignores_non_http_scopes(tmp_path):
    """An ASGI server's `lifespan` probe (uvicorn sends one at startup)
    must not raise: the app returns without sending anything, which the
    server reads as "no lifespan support"."""
    import asyncio

    app = webapi.MiniApp(None, str(tmp_path))
    sent = []

    async def receive():
        return {"type": "lifespan.startup"}

    async def send(message):
        sent.append(message)

    asyncio.run(app({"type": "lifespan", "asgi": {"version": "3.0"}}, receive, send))
    assert sent == []


# --- query-module layout ---------------------------------------------------------

# each query lives in the module named for its name prefix
_QUERY_MODULES = {
    "parity": ("agg", "expr", "join", "limit", "pipeline", "proj", "setop"),
    "io": ("src", "layout", "multimodal"),
    "olap": ("olap",),
    "events": ("events",),
    "text": ("text", "corpus"),
    "dedup": ("dedup",),
    "similarity": ("embedding", "eval", "ivf", "knn", "pq"),
    "dq": ("dq",),
    "sketch": ("sketch",),
    "graph": ("graph",),
    "stream": ("stream", "ml"),
}
_PKG = "laposte_data_engineering_jedha_spark.queries"


def _queries_dir():
    import os

    from laposte_data_engineering_jedha_spark import queries as q

    return os.path.dirname(q.__file__)


def test_query_modules_are_named_for_their_domain():
    """queries/ holds __init__.py plus one module per domain, and every
    registered query is defined in the module its name prefix maps to."""
    import os

    from laposte_data_engineering_jedha_spark import queries as q

    files = {f for f in os.listdir(_queries_dir()) if f.endswith(".py")}
    assert files == {"__init__.py"} | {f"{m}.py" for m in _QUERY_MODULES}
    home = {p: m for m, prefixes in _QUERY_MODULES.items() for p in prefixes}
    misplaced = {
        name: fn.__module__
        for name, fn in q.queries().items()
        if fn.__module__ != f"{_PKG}.{home.get(name.split('_')[0])}"
    }
    assert misplaced == {}


def test_query_modules_bind_each_name_once():
    """No query module binds a top-level name twice (a later binding
    would silently shadow an earlier one); a rebinding that reads the old
    value, like `X = X.replace(...)`, is an edit of one binding."""
    import ast
    import os
    from collections import Counter

    twice = {}
    for m in _QUERY_MODULES:
        with open(os.path.join(_queries_dir(), f"{m}.py")) as fh:
            tree = ast.parse(fh.read())
        seen = Counter()
        for st in tree.body:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                names = [a.asname or a.name.split(".")[0] for a in st.names]
            elif isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                names = [st.name]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                reads = {n.id for n in ast.walk(st.value) if isinstance(n, ast.Name)}
                names = [
                    n.id
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, ast.Name) and not (n.id in reads and seen[n.id])
                ]
            else:
                names = []
            seen.update(names)
        if dups := sorted(n for n, c in seen.items() if c > 1):
            twice[m] = dups
    assert twice == {}


def test_queries_references_in_tests_and_scripts_resolve():
    """Every `...queries import X`, `...queries.M import Y` and attribute
    read `alias.X` on an imported queries module, in tests/ and scripts/,
    names something that exists. Tier-1 never runs most of scripts/, so a
    stale module path there would otherwise go unnoticed."""
    import ast
    import importlib
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [
        os.path.join(root, d, f)
        for d in ("tests", "scripts")
        for f in sorted(os.listdir(os.path.join(root, d)))
        if f.endswith(".py")
    ]
    stale = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        modules = {}  # local name -> imported queries module
        for node in ast.walk(tree):
            where = f"{os.path.relpath(path, root)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom) and node.module and (
                node.module == _PKG or node.module.startswith(_PKG + ".")
            ):
                try:
                    mod = importlib.import_module(node.module)
                except ImportError:
                    stale.append(f"{where} {node.module}")
                    continue
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    if node.module == _PKG and os.path.exists(
                        os.path.join(_queries_dir(), f"{a.name}.py")
                    ):
                        modules[a.asname or a.name] = importlib.import_module(sub)
                    elif not hasattr(mod, a.name):
                        stale.append(f"{where} {node.module} import {a.name}")
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == _PKG or a.name.startswith(_PKG + "."):
                        try:
                            mod = importlib.import_module(a.name)
                        except ImportError:
                            stale.append(f"{where} import {a.name}")
                            continue
                        if a.asname:
                            modules[a.asname] = mod
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
                and not hasattr(modules[node.value.id], node.attr)
            ):
                stale.append(
                    f"{os.path.relpath(path, root)}:{node.lineno} "
                    f"{node.value.id}.{node.attr}"
                )
    assert stale == []
