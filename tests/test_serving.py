"""Serving-layer tests: ClickHouse formats, query cache, HTTP app, Flight
server — the protocol behaviors the SQL oracle can't check (SURVEY §5.2)."""

from __future__ import annotations

import json

import pytest

from quackflight_spark.serving.cache import QueryCache
from quackflight_spark.serving.formats import format_result
from quackflight_spark.serving.namespaces import user_namespace


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    from quackflight_spark.sources.fixtures import register_all

    register_all(spark, sf_dir)


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.sql(
        "SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY k LIMIT 3"
    )


def test_jsoncompact_envelope(small_df):
    payload, ctype = format_result(small_df, "JSONCompact", elapsed=0.01)
    body = json.loads(payload)
    assert set(body) == {
        "meta", "data", "rows", "rows_before_limit_at_least", "statistics"
    }
    assert body["meta"] == [
        {"name": "k", "type": "Int32"},
        {"name": "name", "type": "String"},
    ]
    assert body["rows"] == 3
    assert body["data"][0] == [0, "NATION_0"]
    assert ctype == "application/json"


def test_json_row_objects(small_df):
    body = json.loads(format_result(small_df, "JSON")[0])
    assert body["data"][0] == {"k": 0, "name": "NATION_0"}


def test_jsoneachrow(small_df):
    payload, _ = format_result(small_df, "JSONEachRow")
    lines = payload.decode().strip().split("\n")
    assert len(lines) == 3
    assert json.loads(lines[0]) == {"k": 0, "name": "NATION_0"}


def test_tsv_csv(small_df):
    tsv, _ = format_result(small_df, "TSV")
    assert tsv.decode().splitlines()[0] == "k\tname"
    csv_out, _ = format_result(small_df, "CSV")
    assert csv_out.decode().splitlines()[0] == "k,name"


def test_csv_quoting(spark):
    """Deliberate fix of the reference's unquoted CSV (main.py:191)."""
    df = spark.sql("SELECT 'a,b' AS x, 'line\nbreak' AS y")
    out, _ = format_result(df, "CSV")
    assert '"a,b"' in out.decode()


def test_default_format_row_arrays(small_df):
    body = json.loads(format_result(small_df, None)[0])
    assert body == [[0, "NATION_0"], [1, "NATION_1"], [2, "NATION_2"]]


def test_cache_lru_eviction():
    c = QueryCache(maxsize=2)
    c.put("a", b"1", "t")
    c.put("b", b"2", "t")
    c.get("a")  # refresh a
    c.put("c", b"3", "t")  # evicts b
    assert c.get("a") and c.get("c") and c.get("b") is None


def test_user_namespace_hashing():
    assert user_namespace(None, None) == "default"
    a = user_namespace("alice", "pw")
    assert a.startswith("user_") and a == user_namespace("alice", "pw")
    assert a != user_namespace("alice", "other")


def test_path_like_database_param_missing_file_rejected(client):
    """The reference ATTACHes the `database` param as a DuckDB file path
    (main.py:284). Existing small files are bridged as a snapshot
    namespace (test_attach_duckdb_*); a path to a file that does NOT
    exist must produce an explicit 400, not a namespace quietly named
    like a path."""
    r = client.get("/?query=SELECT 1&database=/data/mydb.duckdb")
    assert r.status_code == 400
    assert b"not found" in r.data


def _make_duckdb_file(path):
    import duckdb

    con = duckdb.connect(path)
    con.execute("CREATE TABLE dim_color (id BIGINT, name VARCHAR)")
    con.execute("INSERT INTO dim_color VALUES (1, 'red'), (2, 'blue')")
    con.execute("CREATE TABLE dim_size (id BIGINT, label VARCHAR)")
    con.execute("INSERT INTO dim_size VALUES (10, 'S'), (20, 'M'), (30, 'L')")
    con.close()


def test_attach_duckdb_snapshot(spark, tmp_path):
    """ATTACH analog for external .duckdb files (reference main.py:284,
    326): every table in the file lands as a managed Spark table under
    the alias namespace, snapshot-at-attach semantics."""
    from quackflight_spark.serving.namespaces import attach_duckdb

    db = str(tmp_path / "meta.duckdb")
    _make_duckdb_file(db)
    alias = attach_duckdb(spark, db)
    assert alias == "attached_meta"
    rows = {
        (r["id"], r["name"])
        for r in spark.table("attached_meta.dim_color").collect()
    }
    assert rows == {(1, "red"), (2, "blue")}
    assert spark.table("attached_meta.dim_size").count() == 3
    spark.sql("DROP DATABASE attached_meta CASCADE")


def test_attach_duckdb_refresh_drops_ghost_tables(spark, tmp_path):
    """Re-attaching after the source dropped a table must NOT keep
    serving the stale snapshot table (r5 advisory): the refresh diffs
    the namespace against the source's table list and drops ghosts."""
    import duckdb

    from quackflight_spark.serving.namespaces import attach_duckdb

    db = str(tmp_path / "ghost.duckdb")
    _make_duckdb_file(db)
    alias = attach_duckdb(spark, db)
    assert spark.catalog.tableExists(f"{alias}.dim_size")
    con = duckdb.connect(db)
    con.execute("DROP TABLE dim_size")
    con.execute("INSERT INTO dim_color VALUES (3, 'green')")
    con.close()
    attach_duckdb(spark, db)  # refresh (file fingerprint changed)
    assert not spark.catalog.tableExists(f"{alias}.dim_size")
    assert spark.table(f"{alias}.dim_color").count() == 3
    spark.sql(f"DROP DATABASE {alias} CASCADE")


def test_attach_duckdb_via_http_database_param(client, spark, tmp_path):
    """End-to-end: the HTTP `database` param pointing at a real .duckdb
    file attaches it and the query runs against the snapshot."""
    db = str(tmp_path / "meta2.duckdb")
    _make_duckdb_file(db)
    r = client.get(
        "/?query=SELECT name FROM dim_color ORDER BY id&database=" + db
    )
    assert r.status_code == 200, r.data
    assert b"red" in r.data and b"blue" in r.data
    spark.sql("DROP DATABASE attached_meta2 CASCADE")


# --- HTTP app ---------------------------------------------------------------

@pytest.fixture(scope="module")
def client(spark):
    flask = pytest.importorskip("flask")  # noqa: F841
    from quackflight_spark.serving.http_app import create_app

    app = create_app(spark)
    app.config["TESTING"] = True
    return app.test_client()


def test_http_ping(client):
    r = client.get("/ping")
    assert r.status_code == 200 and r.data == b"Ok.\n"


def test_http_get_query(client):
    r = client.get("/?query=SELECT count() AS c FROM nation&default_format=JSONCompact")
    assert r.status_code == 200
    assert json.loads(r.data)["data"] == [[25]]


def test_http_format_clause_in_query(client):
    r = client.get("/?query=SELECT 1 AS one FORMAT JSONEachRow")
    assert json.loads(r.data.strip()) == {"one": 1}


def test_http_post_body_query(client):
    r = client.post("/", data=b"SELECT n_name FROM nation\nWHERE n_nationkey = 3")
    assert r.status_code == 200
    assert b"NATION_3" in r.data


def test_http_error_400(client):
    r = client.get("/?query=SELECT bogus_column FROM nation")
    assert r.status_code == 400
    assert b"bogus_column" in r.data or b"BOGUS_COLUMN" in r.data.upper()


def test_http_query_id_cache(client):
    r1 = client.get("/?query=SELECT 42 AS answer&query_id=qid1")
    assert r1.status_code == 200
    # reference behavior: query_id with NO query serves cached bytes
    r2 = client.get("/?query_id=qid1")
    assert r2.status_code == 200 and r2.data == r1.data


def test_http_query_id_cache_scoped_to_namespace(client, spark):
    """A cached result is served only within the namespace that stored it:
    user A's query_id never returns A's bytes to user B or to an anonymous
    caller (the reference keys its cache on the bare query_id)."""
    alice, bob = ("alice", "pw-a"), ("bob", "pw-b")
    try:
        r1 = client.get("/?query=SELECT 'alice-secret' AS s&query_id=qid_a", auth=alice)
        assert r1.status_code == 200 and b"alice-secret" in r1.data
        assert client.get("/?query_id=qid_a", auth=alice).data == r1.data
        for other in (client.get("/?query_id=qid_a", auth=bob), client.get("/?query_id=qid_a")):
            assert other.status_code == 200 and other.data == b"Ok."
    finally:
        for user, pwd in (alice, bob):
            spark.sql(f"DROP DATABASE IF EXISTS {user_namespace(user, pwd)} CASCADE")


def test_http_get_play_console(client):
    """GET /play serves the browser query console (reference serves
    quack-ui's index.html, main.py:340-342)."""
    r = client.get("/play")
    assert r.status_code == 200
    assert r.content_type.startswith("text/html")
    assert b"<html" in r.data.lower() and b"query" in r.data.lower()
    # POST /play still executes queries (both routes, reference main.py:306)
    r2 = client.post("/play?default_format=JSONCompact", data=b"SELECT 1 AS one")
    assert r2.status_code == 200 and b'"one"' in r2.data
    # unknown paths fall back to the console, matching the reference's SPA
    # 404 handler (main.py:350-352)
    r3 = client.get("/no/such/path")
    assert r3.status_code == 200 and b"<html" in r3.data.lower()


def test_http_insert_ndjson(client, spark):
    spark.sql("DROP TABLE IF EXISTS _ins_test")
    spark.sql("CREATE TABLE _ins_test (a BIGINT, b STRING) USING parquet")
    body = b'{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n'
    r = client.post("/?query=INSERT INTO _ins_test FORMAT JSONEachRow", data=body)
    assert r.status_code == 200
    assert spark.table("_ins_test").count() == 2
    spark.sql("DROP TABLE _ins_test")


# --- Flight server ----------------------------------------------------------

@pytest.fixture(scope="module")
def flight_client(spark):
    fl = pytest.importorskip("pyarrow.flight")
    from quackflight_spark.serving.flight_server import SparkFlightServer

    server = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    import threading

    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    yield client
    server.shutdown()


def test_flight_do_get(flight_client):
    import pyarrow.flight as fl

    ticket = fl.Ticket(json.dumps({"query": "SELECT n_nationkey, n_name FROM nation"}).encode())
    table = flight_client.do_get(ticket).read_all()
    assert table.num_rows == 25
    assert table.column_names == ["n_nationkey", "n_name"]


def test_flight_do_get_multistatement(flight_client):
    """CTAS + SELECT multi-statement ticket (examples/flight_read.py:7)."""
    import pyarrow.flight as fl

    sql = (
        "CREATE OR REPLACE TEMPORARY VIEW _fl_t AS SELECT version(), now(); "
        "SELECT * FROM _fl_t;"
    )
    table = flight_client.do_get(fl.Ticket(sql.encode())).read_all()
    assert table.num_rows == 1


def test_flight_get_info_lazy_schema(flight_client):
    import pyarrow.flight as fl

    desc = fl.FlightDescriptor.for_command(b"SELECT n_nationkey, n_name FROM nation")
    info = flight_client.get_flight_info(desc)
    assert [f.name for f in info.schema] == ["n_nationkey", "n_name"]


def test_flight_batches_chunked(flight_client):
    """Results stream in ≤1024-row RecordBatches (reference main.py:782)."""
    import pyarrow.flight as fl

    ticket = fl.Ticket(b"SELECT l_orderkey FROM lineitem")
    reader = flight_client.do_get(ticket)
    sizes = [chunk.data.num_rows for chunk in reader]
    assert sum(sizes) == 6000
    assert max(sizes) <= 1024


def _flight_batches(flight_client, sql: str):
    import pyarrow as pa
    import pyarrow.flight as fl

    reader = flight_client.do_get(fl.Ticket(sql.encode()))
    batches = [chunk.data for chunk in reader]
    return reader.schema, batches, pa.Table.from_batches(batches, reader.schema)


@pytest.mark.parametrize("arrow_path", [True, False])
def test_flight_do_get_size_gate(flight_client, spark, arrow_path):
    """Both sides of do_get's size gate return the same rows in ≤1024-row
    batches under the schema get_flight_info advertises: a result with a
    known, small size estimate is one toArrow() collection; a relation
    over an RDD has no estimate and streams through toLocalIterator."""
    import pyarrow.flight as fl

    from quackflight_spark.serving.flight_server import _within_result_limit

    if arrow_path:
        sql = "SELECT l_orderkey, l_returnflag FROM lineitem"
    else:
        rdd = spark.sparkContext.parallelize([(i, f"c{i}") for i in range(3000)], 4)
        spark.createDataFrame(rdd, "l_orderkey BIGINT, l_returnflag STRING") \
            .createOrReplaceTempView("_rdd_rows")
        sql = "SELECT l_orderkey, l_returnflag FROM _rdd_rows"
    try:
        df = spark.sql(sql)
        assert _within_result_limit(df, 1 << 30) is arrow_path
        info = flight_client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
        schema, batches, table = _flight_batches(flight_client, sql)
        assert schema.equals(info.schema)
        assert max(b.num_rows for b in batches) <= 1024 and len(batches) > 1
        want = sorted((r["l_orderkey"], r["l_returnflag"]) for r in df.collect())
        got = sorted(zip(table["l_orderkey"].to_pylist(), table["l_returnflag"].to_pylist()))
        assert got == want
    finally:
        spark.catalog.dropTempView("_rdd_rows")


def test_result_limit_follows_max_result_size(spark):
    """The gate reads spark.driver.maxResultSize: a known estimate above
    it streams, 0 means unlimited, and an unknown estimate always streams."""
    from quackflight_spark.serving.flight_server import _within_result_limit

    small = spark.sql("SELECT n_nationkey FROM nation")
    assert _within_result_limit(small, 1 << 30) and _within_result_limit(small, 0)
    assert not _within_result_limit(small, 1)
    rdd = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "a INT")
    assert not _within_result_limit(rdd, 0)


def test_flight_do_get_streams_when_collection_exceeds_limit(spark):
    """A parquet scan's estimate is its compressed file size, so a result
    estimated within maxResultSize can exceed it as Arrow: Spark aborts
    the one-job collection, and do_get falls back to the per-partition
    stream and still returns every row."""
    import threading

    import pyarrow.flight as fl

    from quackflight_spark.serving.flight_server import SparkFlightServer, _within_result_limit

    key = "spark.driver.maxResultSize"
    conf = spark.sparkContext._jsc.sc().conf()  # the live conf task sets read
    old = conf.get(key, None)
    sql = "SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem"
    conf.set(key, "800k")
    server = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    threading.Thread(target=server.serve, daemon=True).start()
    try:
        df = spark.sql(sql)
        assert _within_result_limit(df, 800 << 10)
        with pytest.raises(Exception, match="maxResultSize"):
            df.toArrow()
        client = fl.connect(f"grpc://127.0.0.1:{server.port}")
        schema, batches, table = _flight_batches(client, sql)
        assert table.num_rows == 12000 and max(b.num_rows for b in batches) <= 1024
        assert schema.equals(client.get_flight_info(
            fl.FlightDescriptor.for_command(sql.encode())).schema)
    finally:
        server.shutdown()
        if old is None:
            conf.remove(key)
        else:
            conf.set(key, old)


PARITY_STATEMENTS = [
    "SHOW ALL TABLES",
    "SUMMARIZE nation",
    "SELECT count() AS c FROM nation",
    "SELECT n_nationkey::DOUBLE AS k FROM nation WHERE n_nationkey < 3",
    "SELECT n_regionkey, n_name FROM nation "
    "QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) = 1",
    "SELECT n_name FROM nation WHERE n_nationkey = 7 FORMAT JSONEachRow",
]


@pytest.mark.parametrize("sql", PARITY_STATEMENTS)
def test_http_flight_parity(client, flight_client, sql):
    """HTTP and Flight share one statement front door (run_script), so
    DuckDB-only statements answer the same on both protocols."""
    r = client.get("/", query_string={"query": sql, "default_format": "JSONCompact"})
    assert r.status_code == 200, r.data
    if r.content_type == "application/x-ndjson":  # the statement's FORMAT clause
        http_rows = [list(json.loads(ln).values()) for ln in r.data.decode().splitlines()]
    else:
        http_rows = json.loads(r.data)["data"]
    _, _, table = _flight_batches(flight_client, sql)
    flight_rows = [list(row.values()) for row in table.to_pylist()]
    assert http_rows and sorted(map(repr, http_rows)) == sorted(map(repr, flight_rows))


@pytest.mark.parametrize("sql, columns", [
    ("SELECT count() AS c FROM nation", ["c"]),
    ("SELECT n_name FROM nation FORMAT JSONEachRow", ["n_name"]),
    ("SHOW ALL TABLES", ["database", "name", "table_type"]),
])
def test_flight_get_info_through_dialect(flight_client, sql, columns):
    """get_flight_info goes through the dialect like do_get: its schema is
    the one the ticket's stream carries."""
    import pyarrow.flight as fl

    info = flight_client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
    assert info.schema.names == columns
    table = flight_client.do_get(info.endpoints[0].ticket).read_all()
    assert table.schema.equals(info.schema)


def test_flight_get_info_no_result_has_empty_schema(flight_client, spark, tmp_path):
    """A script whose last statement returns no frame (ATTACH) gets an
    empty advertised schema instead of a parse error."""
    import pyarrow.flight as fl

    from quackflight_spark.serving.namespaces import detach_namespace

    db = str(tmp_path / "gfi.duckdb")
    _make_duckdb_file(db)
    try:
        desc = fl.FlightDescriptor.for_command(f"ATTACH '{db}' AS gfi".encode())
        assert len(flight_client.get_flight_info(desc).schema) == 0
    finally:
        detach_namespace(spark, "gfi")


def test_flight_get_info_then_do_get_runs_script_once(flight_client, spark):
    """get_flight_info runs the script's earlier statements and hands out
    a ticket for the last one, so a CTAS + SELECT ticket creates its table
    once and do_get reads it."""
    import pyarrow.flight as fl

    sql = "CREATE TABLE _gfi_ctas AS SELECT n_nationkey FROM nation; SELECT count(*) AS c FROM _gfi_ctas"
    try:
        info = flight_client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
        assert info.schema.names == ["c"]
        table = flight_client.do_get(info.endpoints[0].ticket).read_all()
        assert table.schema.equals(info.schema)
        assert table.to_pylist() == [{"c": 25}]
    finally:
        spark.sql("DROP TABLE IF EXISTS _gfi_ctas")


def test_flight_list_flights_schema_filter(flight_client, spark):
    """The airport-list-flights-filter-schema header keeps one database's
    tables plus the session's temp views, which Spark lists in every
    database; a real database named `temp` is listed by its qualified
    names, not taken for temp views."""
    import pyarrow.flight as fl

    spark.sql("CREATE DATABASE IF NOT EXISTS lf_db")
    spark.sql("CREATE TABLE IF NOT EXISTS lf_db.m (a INT) USING parquet")
    spark.sql("CREATE DATABASE IF NOT EXISTS temp")
    spark.sql("CREATE TABLE IF NOT EXISTS temp.real_t (b STRING) USING parquet")

    def flights(schema=None):
        headers = [(b"airport-list-flights-filter-schema", schema.encode())] if schema else []
        infos = flight_client.list_flights(options=fl.FlightCallOptions(headers=headers))
        return {
            i.descriptor.path[0].decode(): i
            for i in infos
            if i.descriptor.descriptor_type == fl.DescriptorType.PATH
        }

    try:
        filtered = flights("lf_db")
        assert {"lf_db.m", "nation", "lineitem"} <= set(filtered)
        assert not {"temp.real_t", "default.real_t"} & set(filtered)
        real = flights()["temp.real_t"]
        assert real.schema.names == ["b"]
        assert flight_client.do_get(real.endpoints[0].ticket).read_all().schema.names == ["b"]
    finally:
        spark.sql("DROP DATABASE lf_db CASCADE")
        spark.sql("DROP DATABASE temp CASCADE")


def test_all_tables_types_and_known_estimate(spark):
    """SHOW ALL TABLES takes table_type from each table's `Type:` line, and
    its frame has a size estimate (it is built over SQL command results,
    not Python rows), so Flight collects it as Arrow."""
    from quackflight_spark.plans.dialect import all_tables
    from quackflight_spark.serving.flight_server import _within_result_limit

    spark.sql("CREATE DATABASE IF NOT EXISTS sat_db")
    spark.sql("CREATE TABLE IF NOT EXISTS sat_db.m (a INT) USING parquet")
    spark.sql("CREATE OR REPLACE VIEW sat_db.v AS SELECT 1 AS a")
    try:
        df = all_tables(spark)
        rows = {(r["database"], r["name"], r["table_type"]) for r in df.collect()}
        assert {("sat_db", "m", "managed"), ("sat_db", "v", "view"),
                ("temp", "nation", "view")} <= rows
        assert _within_result_limit(df, 0)
    finally:
        spark.sql("DROP DATABASE sat_db CASCADE")


def test_flight_list_actions_create_schema(flight_client, spark):
    import pyarrow.flight as fl

    res = list(
        flight_client.do_action(
            fl.Action("create_schema", json.dumps({"schema": "cat.flight_test_db"}).encode())
        )
    )
    assert res[0].body.to_pybytes() == b"ok"
    assert any(d.name == "flight_test_db" for d in spark.catalog.listDatabases())
    res = list(flight_client.do_action(fl.Action("list_schemas", b"{}")))
    # reference envelope (main.py:581-594): [4-byte LE msgpack length,
    # zstd(msgpack(catalog_root))] as two Result bodies
    from quackflight_spark.serving.airport_codec import decode_action_reply

    assert len(res) == 2
    length_bytes = res[0].body.to_pybytes()
    compressed = res[1].body.to_pybytes()
    assert len(length_bytes) == 4
    assert compressed[:4] == bytes.fromhex("28b52ffd")  # zstd frame magic
    catalog_root = decode_action_reply(length_bytes, compressed)
    assert set(catalog_root) == {"contents", "schemas"}
    entries = {s["schema"]: s for s in catalog_root["schemas"]}
    assert "flight_test_db" in entries
    assert set(entries["flight_test_db"]) == {
        "schema", "description", "tags", "type", "contents"
    }


def test_flight_canned_flights_roundtrip(flight_client):
    """The four canned catalog flights (reference main.py:496-521) are
    listed as real FlightInfo objects and every ticket executes."""
    import pyarrow.flight as fl

    infos = list(flight_client.list_flights())
    canned = {
        i.descriptor.command.decode(): i
        for i in infos
        if i.descriptor.descriptor_type == fl.DescriptorType.CMD
    }
    assert set(canned) >= {"show_databases", "show_tables", "show_version",
                           "list_schemas"}
    for info in canned.values():
        table = flight_client.do_get(info.endpoints[0].ticket).read_all()
        assert table.schema.equals(info.schema)  # advertised schema is real
    dbs_ticket = canned["show_databases"].endpoints[0].ticket
    t = flight_client.do_get(dbs_ticket).read_all()
    assert "default" in t.to_pydict()[t.schema.names[0]]


def test_airport_codec_roundtrip():
    """Minimal msgpack encoder: canonical bytes for the payload shapes the
    envelope uses, verified against hand-computed spec encodings."""
    from quackflight_spark.serving.airport_codec import (
        decode_action_reply,
        encode_action_reply,
        packb,
        unpackb,
    )

    # spec vectors (msgpack.org): fixmap/fixstr/nil/true/fixint/fixarray
    assert packb({}) == b"\x80"
    assert packb([1, 2]) == b"\x92\x01\x02"
    assert packb("abc") == b"\xa3abc"
    assert packb(None) == b"\xc0"
    assert packb(True) == b"\xc3"
    assert packb(200) == b"\xcc\xc8"
    assert packb(-5) == b"\xfb"
    assert packb(70000) == b"\xce\x00\x01\x11\x70"
    payload = {
        "contents": {"url": None, "sha256": None, "serialized": None},
        "schemas": [
            {"schema": "s1", "description": "d", "tags": {}, "type": "table",
             "contents": {"url": None, "sha256": None, "serialized": None}},
        ],
    }
    assert unpackb(packb(payload)) == payload
    assert decode_action_reply(*encode_action_reply(payload)) == payload


def test_flight_bearer_auth_namespace(flight_client, spark):
    """Bearer user:password → per-user namespace session (reference
    main.py:749-762 semantics, race-free)."""
    import pyarrow.flight as fl

    opts = fl.FlightCallOptions(headers=[(b"authorization", b"Bearer erin:pw")])
    flight_client.do_get(
        fl.Ticket(b"CREATE TABLE IF NOT EXISTS flt (v BIGINT) USING parquet; "
                  b"INSERT INTO flt VALUES (7); SELECT 1 AS ok;"),
        options=opts,
    ).read_all()
    t = flight_client.do_get(
        fl.Ticket(b"SELECT max(v) AS v FROM flt"), options=opts
    ).read_all()
    assert t.to_pydict()["v"] == [7]
    # unauthenticated request resolves in the default namespace → no table
    import pytest as _pytest

    with _pytest.raises(Exception):
        flight_client.do_get(fl.Ticket(b"SELECT max(v) AS v FROM flt")).read_all()
    from quackflight_spark.serving.namespaces import user_namespace

    spark.sql(f"DROP DATABASE IF EXISTS {user_namespace('erin','pw')} CASCADE")


def test_flight_concurrent_insert_and_poll(spark):
    """The reference's flagship concurrency scenario (ST1/ST2,
    examples/flight_insert.py:40-95 + flight_watch.py:38-76) as a real
    two-client integration test: one gRPC client appends INSERT VALUES
    batches while a second concurrently polls COUNT(*) + a random sample.
    Asserts: no read errors, observed counts monotonically nondecreasing,
    final count = rows inserted."""
    fl = pytest.importorskip("pyarrow.flight")
    import threading
    import time as _time

    from quackflight_spark.serving.flight_server import SparkFlightServer

    server = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    writer = fl.connect(f"grpc://127.0.0.1:{server.port}")
    monitor = fl.connect(f"grpc://127.0.0.1:{server.port}")

    def run_sql(client, sql):
        return client.do_get(fl.Ticket(sql.encode())).read_all()

    run_sql(writer, "DROP TABLE IF EXISTS concurrent_test")
    run_sql(
        writer,
        "CREATE TABLE IF NOT EXISTS concurrent_test "
        "(batch_id BIGINT, value DOUBLE, category STRING) USING PARQUET",
    )
    errors: list = []
    counts: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                tbl = run_sql(
                    monitor, "SELECT COUNT(*) AS total FROM concurrent_test"
                )
                counts.append(tbl["total"][0].as_py())
                sample = run_sql(
                    monitor,
                    "SELECT * FROM concurrent_test ORDER BY RANDOM() LIMIT 1",
                )
                assert sample.num_rows <= 1
            except Exception as e:  # noqa: BLE001 — recorded and asserted empty
                errors.append(e)
            _time.sleep(0.05)

    mt = threading.Thread(target=poll)
    mt.start()
    n_batches, rows_per_batch = 6, 25
    try:
        for b in range(n_batches):
            vals = ",".join(
                f"({b}, {b}.{i}, '{'ABCD'[i % 4]}')" for i in range(rows_per_batch)
            )
            run_sql(writer, f"INSERT INTO concurrent_test VALUES {vals}")
    finally:
        stop.set()
        mt.join(timeout=30)
    final = run_sql(writer, "SELECT COUNT(*) AS total FROM concurrent_test")
    assert final["total"][0].as_py() == n_batches * rows_per_batch
    assert errors == [], errors
    assert len(counts) > 0
    assert counts == sorted(counts), counts  # appends never go backwards
    run_sql(writer, "DROP TABLE concurrent_test")
    server.shutdown()


# --- Golden-bytes format envelopes (r3 verdict item 5) ----------------------
# Pin the EXACT serialized bytes of every ClickHouse format over a fixed
# frame, so protocol parity survives refactors. Shapes follow reference
# main.py:135-193 (JSONCompact meta/data/rows/rows_before_limit_at_least/
# statistics field order, JSON without rows_before_limit, str()-length
# bytes_read); TSV/CSV pin OUR documented deviations (escaped TSV, quoted
# CSV — the reference's bare str() join is a recorded bug, SURVEY §7).


@pytest.fixture(scope="module")
def golden_df(spark):
    return spark.sql(
        "SELECT * FROM VALUES (1, 'plain', 0.5), (2, 'tab\there', 2.25), "
        "(3, CAST(NULL AS STRING), CAST('NaN' AS DOUBLE)) AS t(k, s, x)"
    )


def test_golden_bytes_jsoncompact(golden_df):
    payload, ctype = format_result(golden_df, "JSONCompact", elapsed=0.001234)
    assert ctype == "application/json"
    assert payload == (
        b'{"meta": [{"name": "k", "type": "Int32"}, {"name": "s", "type": "String"},'
        b' {"name": "x", "type": "Float64"}],'
        b' "data": [[1, "plain", 0.5], [2, "tab\\there", 2.25], [3, null, null]],'
        b' "rows": 3, "rows_before_limit_at_least": 3,'
        b' "statistics": {"elapsed": 0.001234, "rows_read": 3, "bytes_read": 31}}'
    ), payload


def test_golden_bytes_json(golden_df):
    payload, _ = format_result(golden_df, "JSON", elapsed=0.001234)
    assert payload == (
        b'{"meta": [{"name": "k", "type": "Int32"}, {"name": "s", "type": "String"},'
        b' {"name": "x", "type": "Float64"}],'
        b' "data": [{"k": 1, "s": "plain", "x": 0.5},'
        b' {"k": 2, "s": "tab\\there", "x": 2.25}, {"k": 3, "s": null, "x": null}],'
        b' "rows": 3,'
        b' "statistics": {"elapsed": 0.001234, "rows_read": 3, "bytes_read": 31}}'
    ), payload


def test_golden_bytes_jsoneachrow(golden_df):
    payload, ctype = format_result(golden_df, "JSONEachRow")
    assert ctype == "application/x-ndjson"
    assert payload == (
        b'{"k": 1, "s": "plain", "x": 0.5}\n'
        b'{"k": 2, "s": "tab\\there", "x": 2.25}\n'
        b'{"k": 3, "s": null, "x": null}\n'
    ), payload


def test_golden_bytes_tsv(golden_df):
    payload, ctype = format_result(golden_df, "TSV")
    assert ctype == "text/tab-separated-values"
    assert payload == (
        b"k\ts\tx\n"
        b"1\tplain\t0.5\n"
        b"2\ttab\\there\t2.25\n"
        b"3\t\\N\tNone\n"
    ), payload


def test_golden_bytes_csv(golden_df):
    payload, ctype = format_result(golden_df, "CSV")
    assert ctype == "text/csv"
    assert payload == (
        b"k,s,x\n"
        b"1,plain,0.5\n"
        b"2,tab\there,2.25\n"
        b"3,,\n"
    ), payload


def test_golden_bytes_default(golden_df):
    payload, ctype = format_result(golden_df, None)
    assert ctype == "application/json"
    assert payload == (
        b'[[1, "plain", 0.5], [2, "tab\\there", 2.25], [3, null, null]]'
    ), payload


def test_attach_duckdb_row_cap(spark, tmp_path, monkeypatch):
    """Attaching a file past ATTACH_MAX_ROWS must refuse loudly (the cap
    is what keeps 'attach' an import of small metadata, not an accidental
    driver-side collect of a fact table)."""
    import duckdb

    from quackflight_spark.serving import namespaces

    db = str(tmp_path / "big.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT * FROM range(100)")
    con.close()
    monkeypatch.setattr(namespaces, "ATTACH_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="snapshot cap"):
        namespaces.attach_duckdb(spark, db)


def test_detach_managed_namespace_refused(spark):
    """DETACH must NOT drop a namespace that was not created by ATTACH —
    the reference's DETACH merely unmounts (no data loss), so mapping it
    to DROP DATABASE CASCADE on a managed namespace would permanently
    delete user tables through both the HTTP and Flight paths."""
    from quackflight_spark.serving.namespaces import maybe_handle_attach

    spark.sql("CREATE DATABASE IF NOT EXISTS precious_ns")
    spark.sql("CREATE TABLE IF NOT EXISTS precious_ns.t AS SELECT 1 AS x")
    try:
        with pytest.raises(ValueError, match="not an ATTACHed namespace"):
            maybe_handle_attach(spark, "DETACH precious_ns")
        assert spark.catalog.databaseExists("precious_ns")
        assert spark.table("precious_ns.t").count() == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS precious_ns CASCADE")


def test_attach_unchanged_file_skips_reimport(spark, tmp_path, monkeypatch):
    """Re-attaching an unchanged file must be a no-op (the HTTP path
    re-attaches the `database` param on EVERY request — a full re-read +
    non-atomic table overwrite per request races with in-flight
    readers). Freshness key = (path, mtime_ns, size)."""
    import os

    import duckdb

    from quackflight_spark.serving import namespaces

    db = str(tmp_path / "meta5.duckdb")
    _make_duckdb_file(db)
    alias = namespaces.attach_duckdb(spark, db)
    try:
        # prove the second attach never re-opens the file
        def boom(*a, **k):
            raise AssertionError("re-import attempted for unchanged file")

        monkeypatch.setattr(duckdb, "connect", boom)
        assert namespaces.attach_duckdb(spark, db) == alias
        monkeypatch.undo()
        # touching the file invalidates the snapshot -> real re-import
        os.utime(db, ns=(os.stat(db).st_mtime_ns + 1, os.stat(db).st_mtime_ns + 1))
        assert namespaces.attach_duckdb(spark, db) == alias
        assert spark.table(f"{alias}.dim_color").count() == 2
    finally:
        namespaces.detach_namespace(spark, alias)


def test_attach_detach_sql_statements(client, spark, tmp_path):
    """SQL-statement ATTACH '<file>' AS alias / DETACH alias through the
    HTTP path (the reference forwards both verbatim to DuckDB,
    main.py:284) — attach imports the snapshot, queries see it
    qualified, detach drops the namespace."""
    db = str(tmp_path / "meta3.duckdb")
    _make_duckdb_file(db)
    r = client.post("/", data=f"ATTACH '{db}' AS meta3".encode())
    assert r.status_code == 200, r.data
    r = client.get("/?query=SELECT count() AS c FROM meta3.dim_size")
    assert r.status_code == 200 and b"3" in r.data
    r = client.post("/", data=b"DETACH meta3")
    assert r.status_code == 200, r.data
    assert not any(d.name == "meta3" for d in spark.catalog.listDatabases())


def test_attach_sql_via_flight(spark, flight_client, tmp_path):
    """ATTACH/DETACH statements also work in Flight tickets (run_script
    shares the namespace-bridge handler with the HTTP path)."""
    import pyarrow.flight as fl

    db = str(tmp_path / "meta4.duckdb")
    _make_duckdb_file(db)
    sql = f"ATTACH '{db}' AS meta4; SELECT count(*) AS c FROM meta4.dim_color;"
    table = flight_client.do_get(fl.Ticket(sql.encode())).read_all()
    assert table["c"][0].as_py() == 2
    flight_client.do_get(fl.Ticket(b"DETACH meta4")).read_all()
    assert not any(d.name == "meta4" for d in spark.catalog.listDatabases())
