"""ClickHouse-compatible HTTP API — SURVEY.md §3.1, Spark-backed.

Routes and semantics mirror the reference's Flask app (main.py:262-347):

- GET/HEAD `/`   query via `?query=`; params `default_format`,
                 `database`, `query_id`; basic auth       (main.py:262-303)
- POST `/`,`/play`  body appended to the query param      (main.py:306-337)
- GET `/ping`    health probe → "Ok."                     (main.py:345-347)

Lifecycle per request (reference §3.1 trace → our pipeline):
  params → namespace (auth user or database param) → (namespace,
  query_id) cache probe → sanitize_query (FORMAT strip) → namespace
  session → dialect.run_script, the statement front door Flight shares
  (multi-statement scripts run sequentially, last result returned) →
  format serializer → cache store → HTTP 200 / 400-with-message.

INSERT fast path: `INSERT INTO t FORMAT JSONEachRow` + body → the body
is parsed as NDJSON with the target table's schema and appended
(reference main.py:196-211 writes a temp file + COPY; we go through
spark.read.json on a driver-local dataset, same semantics).
"""

from __future__ import annotations

import re
import time

from pyspark.sql import SparkSession

# split_statements and transpile are unused here, but stay bound in this
# module: perfbench/tracer.py wraps them by name on http_app.
from quackflight_spark.plans.dialect import (  # noqa: F401
    run_script,
    sanitize_query,
    split_statements,
    transpile,
)
from quackflight_spark.serving.cache import QueryCache
from quackflight_spark.serving.formats import format_result
from quackflight_spark.serving.namespaces import SessionManager, user_namespace

_INSERT_RE = re.compile(r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)", re.IGNORECASE)


def execute_query(
    spark: SparkSession,
    query: str,
    fmt: str | None = None,
    database: str | None = None,
    body: bytes | None = None,
    sessions: SessionManager | None = None,
) -> tuple[bytes, str]:
    """The protocol-independent core: one reference-shaped request.

    `database` selects a per-namespace child session (SessionManager) —
    isolation without mutating shared session state."""
    t0 = time.time()
    query, fmt_from_query = sanitize_query(query)
    fmt = fmt_from_query or fmt
    if database and ("/" in database or database.endswith((".duckdb", ".db"))):
        # reference main.py:284: path-valued `database` params ATTACH a
        # DuckDB file. Bridge existing small files as a snapshot
        # namespace (namespaces.attach_duckdb); anything else errors
        # loudly there rather than quietly serving an empty namespace.
        from quackflight_spark.serving.namespaces import attach_duckdb

        database = attach_duckdb(spark, database)
    if database:
        spark = (sessions or SessionManager(spark)).for_namespace(database)

    m = _INSERT_RE.match(query)
    if m and body:
        n = insert_ndjson(spark, m.group(1), body)
        return (f"{n}\n".encode(), "text/plain")

    result = run_script(spark, query)
    if result is None:
        return (b"", "text/plain")
    return format_result(result, fmt, elapsed=time.time() - t0)


def insert_ndjson(spark: SparkSession, table: str, body: bytes) -> int:
    """JSONEachRow ingest into an existing table, coerced to its schema
    (reference main.py:196-211 semantics, minus the temp-file hop)."""
    schema = spark.table(table).schema
    lines = [ln for ln in body.decode().splitlines() if ln.strip()]
    df = spark.read.schema(schema).json(spark.sparkContext.parallelize(lines))
    df.write.insertInto(table)
    return len(lines)


def create_app(spark: SparkSession, cache: QueryCache | None = None):
    """Flask app factory (flask is optional — import gated)."""
    from flask import Flask, Response, request

    app = Flask("quackflight_spark")
    cache = cache if cache is not None else QueryCache(maxsize=10)
    sessions = SessionManager(spark)

    def _handle(query: str, body: bytes | None) -> Response:
        fmt = request.args.get("default_format")
        database = request.args.get("database")
        query_id = request.args.get("query_id")

        user = request.authorization.username if request.authorization else None
        pwd = request.authorization.password if request.authorization else None
        if user and not database:
            database = user_namespace(user, pwd)
        # results are cached per namespace: one user's query_id never
        # serves another user's bytes
        cache_key = (database or "default", query_id)

        if query_id and not query:
            hit = cache.get(cache_key)  # cached-result probe (main.py:276-278)
            if hit:
                payload, ctype = hit
                return Response(payload, 200, content_type=ctype)

        if not query:
            return Response(b"Ok.", 200, content_type="text/plain")
        try:
            payload, ctype = execute_query(spark, query, fmt, database, body, sessions)
        except Exception as ex:  # error → 400 with message (main.py:289-303)
            return Response(str(ex).encode(), 400, content_type="text/plain")
        if query_id:
            cache.put(cache_key, payload, ctype)
        return Response(payload, 200, content_type=ctype)

    @app.route("/", methods=["GET", "HEAD"])
    def root():
        return _handle(request.args.get("query", ""), None)

    @app.route("/", methods=["POST"])
    @app.route("/play", methods=["POST"])
    def play():
        body = request.get_data()
        query = request.args.get("query", "")
        if query and _INSERT_RE.match(query):
            return _handle(query, body)
        if not query:
            # POST body is the query (newlines flattened, main.py:320-322)
            query = body.decode().replace("\n", " ").strip()
            body = None
        return _handle(query, body)

    @app.route("/ping", methods=["GET"])
    def ping():
        return Response(b"Ok.\n", 200, content_type="text/plain")

    @app.route("/play", methods=["GET"])
    def play_console():
        """Browser query console (reference serves quack-ui's index.html at
        GET /play, main.py:340-342; this is a self-contained stand-in that
        POSTs to the same endpoints)."""
        return Response(_PLAY_HTML, 200, content_type="text/html; charset=utf-8")

    @app.errorhandler(404)
    def handle_404(e):
        """Unknown paths serve the console, matching the reference's SPA
        fallback (`app.send_static_file('index.html')`, main.py:350-352)."""
        return Response(_PLAY_HTML, 200, content_type="text/html; charset=utf-8")

    return app


_PLAY_HTML = b"""<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="utf-8">
<title>quackflight-spark play</title>
<style>
  body { font-family: ui-monospace, Menlo, Consolas, monospace; margin: 2rem;
         background: #11151a; color: #d8dee9; }
  h1 { font-size: 1.1rem; }
  textarea { width: 100%; height: 8rem; background: #1b222b; color: #d8dee9;
             border: 1px solid #3a4452; border-radius: 4px; padding: .5rem;
             font: inherit; }
  select, button { font: inherit; padding: .3rem .8rem; margin-top: .5rem; }
  button { background: #3b7; border: 0; border-radius: 4px; cursor: pointer; }
  pre { background: #1b222b; border: 1px solid #3a4452; border-radius: 4px;
        padding: .75rem; white-space: pre-wrap; word-break: break-all; }
  .err { color: #f66; }
</style>
</head>
<body>
<h1>quackflight-spark &mdash; query console</h1>
<textarea id="q" spellcheck="false">SELECT 1 AS hello</textarea><br>
<label>format <select id="fmt">
  <option>JSONCompact</option><option>JSONEachRow</option><option>JSON</option>
  <option>TSV</option><option>CSV</option>
</select></label>
<button id="run">Run (Ctrl+Enter)</button>
<pre id="out"></pre>
<script>
  const q = document.getElementById('q'), out = document.getElementById('out');
  async function run() {
    out.textContent = '...'; out.classList.remove('err');
    const fmt = document.getElementById('fmt').value;
    try {
      const r = await fetch('/?default_format=' + encodeURIComponent(fmt),
                            { method: 'POST', body: q.value });
      const text = await r.text();
      out.textContent = text;
      if (!r.ok) out.classList.add('err');
    } catch (e) { out.textContent = String(e); out.classList.add('err'); }
  }
  document.getElementById('run').onclick = run;
  q.addEventListener('keydown', e => {
    if (e.key === 'Enter' && (e.ctrlKey || e.metaKey)) { e.preventDefault(); run(); }
  });
</script>
</body>
</html>
"""
