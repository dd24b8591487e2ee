"""Fixtures, DuckDB answers and answer checks for the serving benchmark.

Fixtures: TPC-H at scale factor 0.1 from DuckDB's built-in dbgen, cast to
the repository's fixture schema (FIXTURES.md) and written once as parquet
under the checkout. DuckDB answers every dashboard and export statement
over the same files before the server starts, outside any timing.

A response is canonicalised to rows of plain values; small results are
compared as multisets with a float tolerance, large ones (export) by an
order-independent DuckDB digest (row count plus the sum of row hashes).
"""

from __future__ import annotations

import io
import json
import math
import os
import re
import shutil
from datetime import date, datetime

import duckdb

# DuckDB scans response tables through Arrow's Acero, which warns on every
# buffer received over IPC that is not 64-byte aligned; reading is correct.
os.environ.setdefault("ACERO_ALIGNMENT_HANDLING", "ignore")

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_FIXTURE_SQL = {
    "region": "r_regionkey::INT r_regionkey, r_name",
    "nation": "n_nationkey::INT n_nationkey, n_name, n_regionkey::INT n_regionkey",
    "customer": "c_custkey::BIGINT c_custkey, c_name, c_nationkey::INT c_nationkey, "
                "c_acctbal::DOUBLE c_acctbal, c_mktsegment",
    "supplier": "s_suppkey::BIGINT s_suppkey, s_name, s_nationkey::INT s_nationkey, "
                "s_acctbal::DOUBLE s_acctbal",
    "part": "p_partkey::BIGINT p_partkey, p_name, p_brand, p_type, p_size::INT p_size, "
            "p_retailprice::DOUBLE p_retailprice",
    "orders": "o_orderkey::BIGINT o_orderkey, o_custkey::BIGINT o_custkey, o_orderstatus, "
              "o_totalprice::DOUBLE o_totalprice, o_orderdate::TIMESTAMP o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey::BIGINT l_orderkey, l_partkey::BIGINT l_partkey, "
                "l_suppkey::BIGINT l_suppkey, l_linenumber::INT l_linenumber, "
                "l_quantity::DOUBLE l_quantity, l_extendedprice::DOUBLE l_extendedprice, "
                "l_discount::DOUBLE l_discount, l_tax::DOUBLE l_tax, l_returnflag, l_linestatus, "
                "l_shipdate::TIMESTAMP l_shipdate",
}


def ensure_fixtures(data_dir: str, sf: float = 0.1) -> None:
    """Write the TPC-H parquet tables at scale factor `sf` into data_dir
    unless already there (built in a sibling directory and renamed, so a
    crash leaves none)."""
    if all(os.path.exists(os.path.join(data_dir, f"{t}.parquet")) for t in TPCH_TABLES):
        return
    tmp = data_dir + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for t, cols in _FIXTURE_SQL.items():
            con.execute(f"COPY (SELECT {cols} FROM {t}) TO '{tmp}/{t}.parquet' (FORMAT parquet)")
    finally:
        con.close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)


_FORMAT_RE = re.compile(r"\bFORMAT\s+(\w+)\s*;?\s*$", re.IGNORECASE)


def strip_format(sql: str) -> str:
    return _FORMAT_RE.sub("", sql).strip()


# --- canonical values --------------------------------------------------------

def canon(v):
    """Plain comparable value: timestamps as 'YYYY-MM-DD HH:MM:SS', numbers
    as float or int, everything else as str."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return float(v) if hasattr(v, "as_tuple") else str(v)  # Decimal


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sort_key(row) -> tuple:
    return tuple(
        (0, round(v, 6)) if isinstance(v, float) else (1, v) if isinstance(v, int)
        else (2, "") if v is None else (3, str(v))
        for v in row
    )


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Multiset equality of rows, floats within a relative 1e-9."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=_sort_key), sorted(b, key=_sort_key)):
        if len(ra) != len(rb) or not all(_same(x, y) for x, y in zip(ra, rb)):
            return False
    return True


# --- response parsing --------------------------------------------------------

def http_rows(payload: bytes, fmt: str) -> list[tuple]:
    """Rows of an HTTP response body in a ClickHouse format."""
    f = fmt.lower()
    if f == "jsoncompact":
        return [tuple(canon(v) for v in r) for r in json.loads(payload)["data"]]
    if f == "jsoneachrow":
        return [
            tuple(canon(v) for v in json.loads(ln).values())
            for ln in payload.decode().splitlines() if ln.strip()
        ]
    raise ValueError(f"unsupported format {fmt}")


def arrow_rows(table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return [tuple(canon(v) for v in r) for r in zip(*cols)]


def response_format(sql: str, fmt: str | None) -> str:
    """The format the HTTP app answers in: a FORMAT clause beats the param."""
    m = _FORMAT_RE.search(sql)
    return m.group(1) if m else (fmt or "JSONCompact")


# --- the oracle --------------------------------------------------------------

class Oracle:
    """DuckDB over the fixture parquet files, schema `tpch` as on the server."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("CREATE SCHEMA tpch")
        for t in TPCH_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW tpch.{t} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(canon(v) for v in r) for r in self.con.execute(strip_format(sql)).fetchall()]

    def table_names(self) -> set[str]:
        return {r[0] for r in self.con.execute(
            "SELECT table_name FROM information_schema.tables WHERE table_schema = 'tpch'"
        ).fetchall()}

    def column_names(self, table: str) -> list[str]:
        return [r[0] for r in self.con.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_schema = 'tpch' AND table_name = ? ORDER BY ordinal_position", [table]
        ).fetchall()]

    def expected(self, kind: str, sql: str):
        """The answer a statement kind is checked against (see check())."""
        if kind in ("show_tables", "show_all_tables"):
            return self.table_names()
        if kind == "describe":
            return self.column_names(sql.split(".")[-1])
        if kind == "version":
            return None
        if kind == "export":
            return self.digest_sql(sql)
        return self.rows(sql)

    # export results are checked by digest: row count and the sum of row
    # hashes, each column cast to the type DuckDB gives it
    def column_types(self, sql: str) -> list[str]:
        return [r[1] for r in self.con.execute(f"DESCRIBE {strip_format(sql)}").fetchall()]

    def digest_sql(self, sql: str) -> tuple:
        types = self.column_types(sql)
        q = strip_format(sql)
        return self._digest(f"({q})", len(types), types) + (tuple(types),)

    def digest_table(self, table, types: tuple) -> tuple:
        """Digest of a response (as an Arrow table of any column types)."""
        self.con.register("__resp", table)
        try:
            return self._digest("__resp", table.num_columns, types) + (types,)
        finally:
            self.con.unregister("__resp")

    def _digest(self, source: str, ncols: int, types) -> tuple:
        names = [r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {source}").fetchall()]
        if len(names) != ncols or len(types) != ncols:
            return (-1, 0)
        cols = ", ".join(f'CAST("{n}" AS {t})' for n, t in zip(names, types))
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {source}"
        ).fetchone()
        return (n, int(h))


def http_table(payload: bytes, fmt: str):
    """An HTTP export body as an Arrow table (types left for the digest's
    casts to settle)."""
    import pyarrow as pa
    import pyarrow.csv as pcsv

    f = fmt.lower()
    if f == "csv":
        return pcsv.read_csv(io.BytesIO(payload))
    if f == "jsoncompact":
        body = json.loads(payload)
        names = [m["name"] for m in body["meta"]]
        cols = list(zip(*body["data"])) if body["data"] else [[] for _ in names]
        return pa.table({n: pa.array([None if v is None else str(v) for v in c], pa.string())
                         for n, c in zip(names, cols)})
    if f == "jsoneachrow":
        recs = [json.loads(ln) for ln in payload.decode().splitlines() if ln.strip()]
        names = list(recs[0]) if recs else []
        return pa.table({n: pa.array([None if r[n] is None else str(r[n]) for r in recs],
                                     pa.string()) for n in names})
    raise ValueError(f"unsupported format {fmt}")


def check(kind: str, expected, rows: list[tuple] | None) -> str:
    """'ok' or a reason the answer is wrong, for a 200 response's rows."""
    if kind == "show_tables":
        got = {r[1] for r in rows}
        return "ok" if got == expected else f"tables {sorted(got)} != {sorted(expected)}"
    if kind == "show_all_tables":
        got = {r[1] for r in rows if r[0] == "tpch"}
        return "ok" if got == expected else f"tables {sorted(got)} != {sorted(expected)}"
    if kind == "describe":
        got = [r[0] for r in rows]
        return "ok" if got == expected else f"columns {got} != {expected}"
    if kind == "version":
        ok = len(rows) == 1 and len(rows[0]) == 1 and isinstance(rows[0][0], str) and rows[0][0]
        return "ok" if ok else f"version answer {rows!r}"
    return "ok" if same_rows(rows, expected) else (
        f"{len(rows)} rows != {len(expected)} expected; first {rows[:2]} vs {expected[:2]}"
    )
