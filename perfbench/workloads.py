"""Seeded request generation for the three serving workloads.

The server receives only what these functions generate; the same seed
gives the same request sequence (perfbench/tests checks it). Timing and
transport live in run.py, answers in oracle.py.

- dashboard: closed loop, one client per protocol. The kinds' order comes
  from a fixed schedule seed so the traffic shape does not vary with
  --seed. The seed picks one statement per kind (the dashboard's panels),
  re-issued over the window on both protocols with the same text.
- export: closed loop, one client. Flight do_get alternates with HTTP
  CSV / JSONEachRow / JSONCompact over the same projection statements.
- ingest: one closed-loop writer (do_put, do_exchange, HTTP INSERT in
  rotation, 1000-row batches) and one Flight reader polling the table.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

WORKLOADS = ("dashboard", "export", "ingest")

# Credentials of the authenticated dashboard user (HTTP basic auth, Flight
# bearer token): its requests run in a per-user namespace session.
AUTH_USER, AUTH_PASSWORD = "bench", "bench-pw"

INGEST_SCHEMA = "bench"
BATCH_ROWS = 1000
INGEST_KEYS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")


@dataclass
class Req:
    rid: str
    kind: str  # statement kind or protocol operation
    proto: str  # "http" | "flight"
    user: int = 0  # 1: carries the credentials of AUTH_USER; 0: anonymous
    sql: str | None = None
    fmt: str | None = None  # HTTP default_format parameter
    query_id: str | None = None
    refetch_of: str | None = None  # rid whose query_id this request re-fetches
    path: str | None = None  # Flight path descriptor (info_get)
    batch: int | None = None  # ingest batch index


# --- dashboard -------------------------------------------------------------

def _dashboard_sql(kind: str, rng: random.Random) -> str:
    if kind == "q1":
        return (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count() AS count_order "
            "FROM tpch.lineitem WHERE l_shipdate <= '1998-12-01'::TIMESTAMP - INTERVAL "
            f"{rng.randint(60, 120)} DAY GROUP BY ALL ORDER BY ALL"
        )
    if kind == "q6":
        y, d = rng.randint(1993, 1997), rng.randint(2, 9)
        return (
            "SELECT sum(l_extendedprice * l_discount) AS revenue FROM tpch.lineitem "
            f"WHERE l_shipdate >= '{y}-01-01'::TIMESTAMP AND l_shipdate < '{y + 1}-01-01'::TIMESTAMP "
            f"AND l_discount BETWEEN {(d - 1) / 100:.2f} AND {(d + 1) / 100:.2f} "
            f"AND l_quantity < {rng.randint(24, 25)} "
            "FORMAT JSONEachRow"
        )
    if kind == "topk":
        p = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        return (
            "SELECT o_custkey, count() AS n, sum(o_totalprice) AS total FROM tpch.orders "
            f"WHERE o_orderpriority = '{p}' GROUP BY o_custkey ORDER BY total DESC, o_custkey LIMIT 10"
        )
    if kind == "qualify":
        return (
            "SELECT n_name, c_custkey, c_acctbal FROM tpch.customer JOIN tpch.nation "
            f"ON c_nationkey = n_nationkey WHERE n_regionkey = {rng.randint(0, 4)} "
            "QUALIFY row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) <= 3"
        )
    if kind == "point":
        key = 32 * rng.randint(1, 18000) + rng.randint(0, 7)
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
            f"FROM tpch.orders WHERE o_orderkey = {key} FORMAT JSONEachRow"
        )
    if kind == "join":
        y, m = rng.randint(1993, 1997), rng.choice([1, 4, 7, 10])
        return (
            "SELECT n_name, count() AS n_orders, sum(o_totalprice) AS total FROM tpch.orders "
            "JOIN tpch.customer ON o_custkey = c_custkey JOIN tpch.nation ON c_nationkey = n_nationkey "
            f"WHERE o_orderdate >= '{y}-{m:02d}-01'::TIMESTAMP "
            f"AND o_orderdate < '{y}-{m:02d}-01'::TIMESTAMP + INTERVAL 3 MONTH "
            "GROUP BY n_name ORDER BY total DESC LIMIT 5"
        )
    if kind == "count":
        return (
            f"SELECT count() AS n FROM tpch.lineitem WHERE l_returnflag = '{rng.choice('ANR')}' "
            f"AND l_quantity > {rng.randint(1, 49)}"
        )
    if kind == "show_tables":
        return "SHOW TABLES FROM tpch"
    if kind == "show_all_tables":
        return "SHOW ALL TABLES"
    if kind == "describe":
        return f"DESCRIBE tpch.{rng.choice(['orders', 'lineitem', 'customer', 'part'])}"
    if kind == "version":
        return "SELECT version()"
    raise ValueError(kind)


DASHBOARD_AGGREGATES = ("q1", "q6", "topk", "qualify", "point", "join", "count")
DASHBOARD_CATALOG = ("show_tables", "show_all_tables", "describe", "version")
DASHBOARD_SQL_KINDS = DASHBOARD_AGGREGATES + DASHBOARD_CATALOG
# One block of the mix, 20 requests per protocol: the same 18 statements on
# both (short aggregates twice, catalog statements once, so the median falls
# among the aggregates rather than in the gap between two clusters), then
# HTTP query_id re-fetches and the Flight discovery path.
_BLOCK_SQL = DASHBOARD_AGGREGATES * 2 + DASHBOARD_CATALOG
DASHBOARD_BLOCK = (
    [(k, "http") for k in _BLOCK_SQL]
    + [(k, "flight") for k in _BLOCK_SQL]
    + [("refetch", "http")] * 2
    + [("info_get", "flight"), ("list_flights", "flight")]
)
REFETCH_WINDOW = 3  # re-fetch one of the user's last 3 HTTP statements
# Requests generated per second of a window: more than the two closed-loop
# clients complete together (9-12/s on a 4-core host), so neither runs out.
DASHBOARD_SEQUENCE_PER_S = 40


def dashboard(seed: int, n: int, tag: str = "d") -> list[Req]:
    """The first n requests of the dashboard's sequence: whole blocks of the
    mix, each block in its own shuffled order, so that any prefix of one
    protocol's requests holds the kinds in the block's proportions. A
    closed-loop client per protocol takes its protocol's requests in order.
    Every other request of each protocol carries the credentials of one user
    (`user` 1) and runs in that user's namespace.

    The order of kinds and users comes from a fixed schedule seed; `seed`
    sets the literals, keys and query ids. Runs with different seeds
    therefore send different statements in the same traffic shape."""
    sched = random.Random("dashboard-schedule")
    lits = random.Random(f"dashboard-{seed}")
    blocks = -(-n // len(DASHBOARD_BLOCK))
    panels = {k: _dashboard_sql(k, lits) for k in DASHBOARD_SQL_KINDS}
    items = []
    for _ in range(blocks):
        block = list(DASHBOARD_BLOCK)
        sched.shuffle(block)
        items += block
    reqs: list[Req] = []
    next_user = {"http": 0, "flight": 0}
    history: dict[tuple[str, int], list[Req]] = {}
    for i, (kind, proto) in enumerate(items[:n]):
        user = next_user[proto]
        next_user[proto] = 1 - user
        r = Req(rid=f"{tag}{i:05d}", kind=kind, proto=proto, user=user)
        if kind in panels:
            r.sql = panels[kind]
            if proto == "http":
                r.fmt = "JSONCompact"
                r.query_id = f"{tag}{seed}-{i}"
        elif kind == "refetch":
            recent = [p for p in history.get((proto, user), []) if p.sql][-REFETCH_WINDOW:]
            # at the start nothing is cached yet: a probe of an id never
            # stored, answered as a miss
            target = sched.choice(recent) if recent else None
            r.refetch_of = target.rid if target else None
            r.query_id = target.query_id if target else f"{tag}{seed}-never-{i}"
        elif kind == "info_get":
            r.path = sched.choice(["tpch.nation", "tpch.region"])
        history.setdefault((proto, user), []).append(r)
        reqs.append(r)
    return reqs


# --- export ----------------------------------------------------------------

EXPORT_FORMATS = ("CSV", "JSONEachRow", "JSONCompact")
EXPORT_PAIRS = 600  # more than one client completes in a window


def _export_sql(j: int, rng: random.Random) -> str:
    # Two lineitem slices per orders slice: the per-protocol latency sample
    # is dominated by one shape, so its median does not flip between modes.
    if j % 3 < 2:
        return (
            "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, l_shipdate "
            f"FROM tpch.lineitem WHERE l_orderkey % 20 = {rng.randint(0, 19)}"
        )
    return (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        f"FROM tpch.orders WHERE o_orderkey % 5 = {rng.randint(0, 4)}"
    )


def export(seed: int, tag: str = "e") -> list[Req]:
    """Closed-loop sequence: statement j over Flight, then the same
    statement over HTTP in format j mod 3; every HTTP request carries a
    distinct query_id."""
    rng = random.Random(f"export-{seed}")
    reqs: list[Req] = []
    for j in range(EXPORT_PAIRS):
        sql = _export_sql(j, rng)
        reqs.append(Req(rid=f"{tag}{2 * j:05d}", kind="export", proto="flight", sql=sql))
        reqs.append(Req(
            rid=f"{tag}{2 * j + 1:05d}", kind="export", proto="http", sql=sql,
            fmt=EXPORT_FORMATS[j % 3], query_id=f"{tag}{seed}-{j}",
        ))
    return reqs


# --- ingest ----------------------------------------------------------------

INGEST_OPS = ("do_put", "do_exchange", "http_insert")
INGEST_POLL_S = 0.5
INGEST_BATCHES = 2000  # more than the writer sends in a window


def ingest_batch(seed: int, b: int) -> dict[str, list]:
    """Columns of batch b: ids b*1000 .. b*1000+999, seeded keys and values."""
    rng = random.Random(f"ingest-{seed}-{b}")
    ids = list(range(b * BATCH_ROWS, (b + 1) * BATCH_ROWS))
    return {
        "id": ids,
        "k": [rng.choice(INGEST_KEYS) for _ in ids],
        "v": [rng.randint(0, 100_000) / 100 for _ in ids],
    }


def ingest_writes(tag: str = "w") -> list[Req]:
    return [
        Req(rid=f"{tag}{b:05d}", kind=INGEST_OPS[b % 3],
            proto="http" if INGEST_OPS[b % 3] == "http_insert" else "flight", batch=b)
        for b in range(INGEST_BATCHES)
    ]


def ingest_poll_sql(table: str) -> tuple[str, str]:
    """COUNT(*) and a small aggregate. Both are single-stage aggregates of
    similar cost, so the reader's latency sample has one mode and its
    median and tail do not sit on the gap between two."""
    return (
        f"SELECT count(*) AS n, sum(id) AS s FROM {table}",
        f"SELECT max(id) AS top, min(v) AS lo, max(v) AS hi FROM {table}",
    )
