"""Arrow Flight SQL server — SURVEY.md §3.2/3.3, Spark-backed.

The reference exposes DuckDB over pyarrow.flight (DuckDBFlightServer,
main.py:473-1105). This is the same protocol surface backed by the Spark
engine, with the §7-listed reference bugs fixed:

- do_get: ticket SQL → run_script (the dialect front door HTTP shares) →
  Arrow RecordBatch stream, chunks ≤1024 rows (reference main.py:781-788).
  A result whose Catalyst size estimate fits spark.driver.maxResultSize
  is collected as one Arrow table, as the reference does (main.py:781);
  it streams partition by partition through toLocalIterator when the
  estimate exceeds maxResultSize or is unknown, or when the collection
  turns out larger than the estimate and Spark aborts it.
- get_flight_info: result schema from run_script's frame — Catalyst
  ANALYSIS ONLY for queries; the reference executes the whole query to
  learn its schema (main.py:820-828). This is the §3.3 design win.
- list_flights: catalog listing from dialect.table_listing (SQL catalog
  commands) with the `airport-list-flights-filter-schema` header honored
  (reference main.py:879-882); always yields real FlightInfo objects
  (the reference yields raw dicts for canned flights — bug, main.py:972-982).
- do_put / do_exchange: Arrow batch ingest appended to the target table;
  do_exchange streams per-batch inserts and acks total rows
  (reference main.py:1007-1105), without the INSERT INTO
  {schema}.{schema.table} double-prefix bug (main.py:1072-1073).
- do_action create_schema / create_table / list_schemas
  (reference main.py:537-742). list_schemas replies the reference's
  msgpack+zstd two-Result envelope (main.py:582-594) via
  serving/airport_codec.py (minimal public-spec msgpack + pyarrow's
  bundled zstd, real wheels preferred when installed).
- No shared mutable per-request connection state (reference rebinds
  self.conn per request — race, main.py:762).
"""

from __future__ import annotations

import json
import threading

import pyarrow as pa

try:
    import pyarrow.flight as flight
except ImportError:  # pragma: no cover
    flight = None

from pyspark.sql import SparkSession

from quackflight_spark.plans.dialect import run_script, split_statements, table_listing

BATCH_ROWS = 1024  # reference main.py:782


def parse_ticket(raw: bytes) -> str:
    """Ticket bytes → SQL: JSON {"query": ...} (possibly double-encoded)
    else raw SQL (reference parse_ticket, main.py:361-372)."""
    try:
        obj = json.loads(raw.decode())
        if isinstance(obj, str):
            obj = json.loads(obj)
        if isinstance(obj, dict) and "query" in obj:
            return obj["query"]
    except (ValueError, UnicodeDecodeError):
        pass
    return raw.decode()


def _spark_schema_to_arrow(df) -> pa.Schema:
    """Arrow schema from Catalyst analysis only — no job runs."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


_UNKNOWN_SIZE = 2**63 - 1  # Catalyst's estimate when it has none (Long.MaxValue)


def _within_result_limit(df, max_result_bytes: int) -> bool:
    """Catalyst's size estimate of the result (optimizer only, no job) is
    known and within spark.driver.maxResultSize (0 = unlimited)."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size < _UNKNOWN_SIZE and (max_result_bytes == 0 or size <= max_result_bytes)


def _arrow_batches(df, schema: pa.Schema):
    """≤BATCH_ROWS RecordBatches sliced zero-copy from one toArrow(), or
    None when Spark aborts the collection at spark.driver.maxResultSize:
    a file scan's estimate is its compressed on-disk size, so a result
    estimated within the limit can still exceed it as Arrow."""
    try:
        table = df.toArrow()
    except Exception as e:  # py4j wraps the job's SparkException
        if "spark.driver.maxResultSize" not in str(e):
            raise
        return None
    return iter(table.cast(schema).to_batches(max_chunksize=BATCH_ROWS))


def _row_batches(df, schema: pa.Schema):
    """≤BATCH_ROWS RecordBatches pulled one partition at a time."""
    names = df.columns
    buf: list = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(dict(zip(names, row)))
        if len(buf) >= BATCH_ROWS:
            yield pa.RecordBatch.from_pylist(buf, schema=schema)
            buf = []
    if buf:
        yield pa.RecordBatch.from_pylist(buf, schema=schema)


if flight is not None:

    class HeaderMiddleware(flight.ServerMiddleware):
        """Per-call header capture (reference HeaderMiddlewareFactory,
        main.py:456-471) — lower-cased keys, 'Bearer ' stripped from
        authorization."""

        def __init__(self, headers):
            self.headers = {}
            for k, v in headers.items():
                val = v[0] if isinstance(v, (list, tuple)) else v
                if isinstance(val, bytes):
                    val = val.decode()
                if k.lower() == "authorization" and val.startswith("Bearer "):
                    val = val[len("Bearer "):]
                self.headers[k.lower()] = val

    class HeaderMiddlewareFactory(flight.ServerMiddlewareFactory):
        def start_call(self, info, headers):
            return HeaderMiddleware(headers)

    class SparkFlightServer(flight.FlightServerBase):
        """Flight server wrapping one SparkSession.

        Auth: a Bearer token of the form user:password (or an opaque
        token) selects a per-user namespace session via SessionManager —
        the reference's per-user DB file selection (main.py:749-762)
        without its shared-connection rebinding race."""

        def __init__(self, spark: SparkSession, location: str = "grpc://0.0.0.0:8815"):
            super().__init__(location, middleware={"headers": HeaderMiddlewareFactory()})
            self.spark = spark
            self.location = location
            self._lock = threading.Lock()
            from quackflight_spark.serving.namespaces import SessionManager

            self._sessions = SessionManager(spark)
            # Spark's own default is 1g; the setting belongs to the shared
            # SparkContext, so every namespace session has the same limit.
            self._max_result_bytes = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
                "spark.driver.maxResultSize", "1g"
            )

        def _session_for(self, context) -> SparkSession:
            """Per-request session from the auth header (never mutates
            shared state)."""
            if context is None:
                return self.spark
            mw = context.get_middleware("headers")
            if mw is None:
                return self.spark
            token = mw.headers.get("authorization")
            if not token:
                return self.spark
            from quackflight_spark.serving.namespaces import user_namespace

            user, _, pwd = token.partition(":")
            return self._sessions.for_namespace(user_namespace(user, pwd))

        # --- data path -----------------------------------------------------
        def do_get(self, context, ticket):
            """Ticket SQL → ≤1024-row RecordBatches. A result whose size
            estimate fits maxResultSize is collected in one toArrow() and
            sliced zero-copy, as the reference's fetch_arrow_table()
            (main.py:781-788); the server then holds it whole, which
            Spark's maxResultSize check bounds. It streams one partition
            at a time through toLocalIterator when the estimate exceeds
            maxResultSize or is unknown (RDD-backed relations), and when
            Spark aborts the collection because the estimate was too low."""
            query = parse_ticket(ticket.ticket)
            df = run_script(self._session_for(context), query)
            if df is None:
                return flight.RecordBatchStream(pa.table({}, schema=pa.schema([])))
            schema = _spark_schema_to_arrow(df)
            batches = None
            if _within_result_limit(df, self._max_result_bytes):
                batches = _arrow_batches(df, schema)
            if batches is None:
                batches = _row_batches(df, schema)
            return flight.GeneratorStream(schema, batches)

        def get_flight_info(self, context, descriptor):
            """Result schema through the same front door as do_get; a
            script whose last statement returns nothing has an empty
            schema. The whole script runs here, so its earlier statements
            take effect now and the ticket holds the last statement only:
            do_get does not run them twice ('CREATE TABLE t AS ...;
            SELECT * FROM t' creates t once). A last statement that is
            itself a command runs here and again in do_get, as the
            reference does (main.py:820-828)."""
            if descriptor.descriptor_type == flight.DescriptorType.CMD:
                query = parse_ticket(descriptor.command)
            else:
                path = descriptor.path[0].decode()
                query = f"SELECT * FROM {path}"
            df = run_script(self._session_for(context), query)
            schema = pa.schema([]) if df is None else _spark_schema_to_arrow(df)
            stmts = split_statements(query)
            if len(stmts) > 1:
                query = stmts[-1]
            ticket = flight.Ticket(json.dumps({"query": query}).encode())
            endpoint = flight.FlightEndpoint(ticket, [self.location])
            return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        # --- discovery -----------------------------------------------------
        # Canned catalog flights (reference pre-registers these four,
        # main.py:496-521): command name → ticket SQL. Yielded as REAL
        # FlightInfo objects (the reference yields raw dicts — bug,
        # main.py:972-982), with schemas from lazy Catalyst analysis.
        CANNED_FLIGHTS = (
            ("show_databases", "SHOW DATABASES"),
            ("show_tables", "SHOW TABLES"),
            ("show_version", "SELECT version()"),
            ("list_schemas", "SHOW ALL TABLES"),
        )

        def _canned_flight_info(self, command: str, sql: str, df):
            schema = _spark_schema_to_arrow(df)
            ticket = flight.Ticket(sql.encode())
            endpoint = flight.FlightEndpoint(ticket, [self.location])
            descriptor = flight.FlightDescriptor.for_command(command.encode())
            return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        def list_flights(self, context, criteria):
            headers = {}
            if context is not None:
                mw = context.get_middleware("headers")
                if mw is not None:
                    headers = mw.headers
            want_schema = headers.get("airport-list-flights-filter-schema")
            # One listing answers both the SHOW ALL TABLES schema and the
            # per-table flights. Temp views are session-global: they match
            # every schema filter, as Spark lists them in every database.
            listing = table_listing(self.spark)
            for command, sql in self.CANNED_FLIGHTS:
                if sql == "SHOW ALL TABLES":
                    df = listing.drop("temporary")
                else:
                    df = run_script(self.spark, sql)
                yield self._canned_flight_info(command, sql, df)
            for db, name, _, temporary in listing.collect():
                if want_schema and not temporary and db != want_schema:
                    continue
                full = name if temporary else f"{db}.{name}"
                schema = _spark_schema_to_arrow(self.spark.table(full))
                ticket = flight.Ticket(
                    json.dumps({"query": f"SELECT * FROM {full}"}).encode()
                )
                descriptor = flight.FlightDescriptor.for_path(full.encode())
                endpoint = flight.FlightEndpoint(ticket, [self.location])
                yield flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        # --- ingest ----------------------------------------------------------
        def _append_table(self, table_name: str, arrow_table: pa.Table) -> int:
            df = self.spark.createDataFrame(arrow_table.to_pandas())
            df.write.insertInto(table_name)
            return arrow_table.num_rows

        def do_put(self, context, descriptor, reader, writer):
            table_name = descriptor.path[0].decode()
            arrow_table = reader.read_all()
            with self._lock:
                self._append_table(table_name, arrow_table)

        def do_exchange(self, context, descriptor, reader, writer):
            """Streamed ingest: unbounded batch sequence, per-batch insert,
            final rows_inserted ack (reference main.py:1050-1094)."""
            table_name = descriptor.path[0].decode()
            total = 0
            for chunk in reader:
                if chunk.data is None:
                    continue
                batch_table = pa.Table.from_batches([chunk.data])
                with self._lock:
                    total += self._append_table(table_name, batch_table)
            ack_schema = pa.schema([("rows_inserted", pa.int64())])
            writer.begin(ack_schema)
            writer.write_table(pa.table({"rows_inserted": [total]}, schema=ack_schema))

        # --- DDL actions -----------------------------------------------------
        def do_action(self, context, action):
            body = action.body.to_pybytes() if action.body else b"{}"
            if action.type == "create_schema":
                payload = json.loads(body)
                name = payload["schema"].split(".")[-1]  # main.py:626 semantics
                from quackflight_spark.serving.namespaces import ensure_namespace

                ensure_namespace(self.spark, name)
                return [flight.Result(b"ok")]
            if action.type == "create_table":
                payload = json.loads(body)
                full = f"{payload['schema']}.{payload['table']}"
                arrow_schema = pa.ipc.read_schema(
                    pa.BufferReader(bytes.fromhex(payload["arrow_schema_hex"]))
                )
                from pyspark.sql.pandas.types import from_arrow_schema

                spark_schema = from_arrow_schema(arrow_schema)
                ddl_cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in spark_schema.fields
                )
                self.spark.sql(f"CREATE TABLE IF NOT EXISTS {full} ({ddl_cols}) USING parquet")
                return [flight.Result(json.dumps({"ticket": f"SELECT * FROM {full}"}).encode())]
            if action.type == "list_schemas":
                # Reference envelope (main.py:581-594): two Results —
                # 4-byte LE msgpack length, then zstd(msgpack(catalog_root)).
                # One entry per schema, named by its own schema_name (the
                # reference sets every entry's "schema" to the catalog
                # name — main.py:563 — which loses the names; fixed here).
                from quackflight_spark.serving.airport_codec import encode_action_reply

                payload = json.loads(body)
                catalog_name = payload.get("catalog_name", "main")
                schemas = [
                    {
                        "schema": d.name,
                        "description": d.description or "Spark Schema",
                        "tags": {},
                        "type": "table",
                        "contents": {"url": None, "sha256": None, "serialized": None},
                    }
                    for d in self.spark.catalog.listDatabases()
                ]
                catalog_root = {
                    "contents": {"url": None, "sha256": None, "serialized": None},
                    "schemas": schemas,
                }
                length_bytes, compressed = encode_action_reply(catalog_root)
                return [flight.Result(length_bytes), flight.Result(compressed)]
            raise KeyError(f"unknown action {action.type!r}")

else:  # pragma: no cover

    class SparkFlightServer:  # type: ignore[no-redef]
        def __init__(self, *a, **kw):
            raise ImportError("pyarrow.flight is not available in this build")
