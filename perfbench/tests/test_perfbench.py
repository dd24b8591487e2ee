"""Tests of the serving benchmark's own logic (no Spark, no server).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..")))

from perfbench import oracle as O  # noqa: E402
from perfbench import stats as S  # noqa: E402
from perfbench import workloads as W  # noqa: E402


# --- tail percentile ---------------------------------------------------------

@pytest.mark.parametrize("n", [21, 22, 30, 57, 100, 101, 250, 1000])
def test_tail_has_ten_samples_beyond(n):
    xs = random.Random(n).sample(range(10 * n), n)  # distinct values
    value, pct = S.tail(xs)
    assert sum(x > value for x in xs) >= S.TAIL_BEYOND
    # and it is the highest such: the next order statistic has fewer
    above = sorted(xs)[sorted(xs).index(value) + 1]
    assert sum(x > above for x in xs) < S.TAIL_BEYOND
    assert value >= S.median(xs)
    assert 50 <= pct < 100


def test_tail_p90_at_100_samples():
    assert S.tail(list(range(1, 101))) == (90, 90.0)


@pytest.mark.parametrize("n", [1, 5, 11, 20])
def test_tail_falls_back_to_median_below_21_samples(n):
    xs = list(range(n))
    assert S.tail(xs) == (S.median(xs), 50.0)


def test_tail_counts_failed_requests_beyond():
    xs = [10.0] * 30 + [float("inf")] * 3
    value, _ = S.tail(xs)
    assert value == 10.0


def test_geomean_moves_with_every_request_of_a_mix():
    fast, slow = [4.0] * 10, [400.0] * 10
    base = S.geomean(fast + slow)
    assert base == pytest.approx(40.0)
    # halving the fast half of the requests divides it by 2 ** 0.5
    faster = S.geomean([2.0] * 10 + slow)
    assert faster == pytest.approx(base / 2 ** 0.5)
    with pytest.raises(ValueError):
        S.geomean([])


# --- seeded request sequences -------------------------------------------------

def _fields(reqs):
    return [tuple(vars(r).values()) for r in reqs]


def test_same_seed_same_requests():
    assert _fields(W.dashboard(7, 36)) == _fields(W.dashboard(7, 36))
    assert _fields(W.export(7)) == _fields(W.export(7))
    assert W.ingest_batch(7, 3) == W.ingest_batch(7, 3)
    assert _fields(W.ingest_writes()) == _fields(W.ingest_writes())


def test_other_seed_other_statements_same_traffic_shape():
    a, b = W.dashboard(7, 36), W.dashboard(8, 36)
    assert [r.sql for r in a] != [r.sql for r in b]
    assert [(r.kind, r.proto, r.user) for r in a] == [(r.kind, r.proto, r.user) for r in b]
    assert [r.sql for r in W.export(7)] != [r.sql for r in W.export(8)]
    assert W.ingest_batch(7, 0) != W.ingest_batch(8, 0)


def test_dashboard_mix_is_the_same_on_both_protocols():
    reqs = W.dashboard(3, 120)  # several whole blocks
    http = sorted(r.sql for r in reqs if r.proto == "http" and r.sql)
    flight = sorted(r.sql for r in reqs if r.proto == "flight" and r.sql)
    assert http == flight
    assert all(r.query_id for r in reqs if r.proto == "http")
    # each block is shuffled on its own: a closed-loop client that stops
    # after one block's worth of requests has sent every kind of the block
    block_http = sorted(k for k, p in W.DASHBOARD_BLOCK if p == "http")
    first_http = [r.kind for r in reqs if r.proto == "http"][:len(block_http)]
    assert sorted(first_http) == block_http


def test_refetch_targets_a_recent_statement_of_the_same_user():
    reqs = W.dashboard(3, 120)
    by_rid = {r.rid: r for r in reqs}
    for i, r in enumerate(reqs):
        if r.kind == "refetch" and r.refetch_of:
            t = by_rid[r.refetch_of]
            assert t.proto == "http" and t.user == r.user and t.sql and t.query_id == r.query_id
            assert reqs.index(t) < i


# --- the oracle check ---------------------------------------------------------

@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tpch"))
    O.ensure_fixtures(d, sf=0.01)
    o = O.Oracle(d)
    yield o
    o.close()


def _jsoncompact(rows):
    return json.dumps({"meta": [], "data": [list(r) for r in rows]}).encode()


def test_check_accepts_the_right_answer_in_any_row_order(oracle):
    sql = [r.sql for r in W.dashboard(1, 36) if r.kind == "q1"][0]
    want = oracle.expected("q1", sql)
    got = O.http_rows(_jsoncompact(reversed(want)), "JSONCompact")
    assert O.check("q1", want, got) == "ok"


def test_check_rejects_a_corrupted_response(oracle):
    sql = [r.sql for r in W.dashboard(1, 36) if r.kind == "q1"][0]
    want = oracle.expected("q1", sql)
    rows = [list(r) for r in want]
    rows[0][2] += 1.0  # one aggregate off by one
    assert O.check("q1", want, O.http_rows(_jsoncompact(rows), "JSONCompact")) != "ok"
    assert O.check("q1", want, [tuple(r) for r in want[1:]]) != "ok"  # a row dropped
    assert O.check("show_tables", oracle.expected("show_tables", "SHOW TABLES FROM tpch"),
                   [("tpch", "lineitem", False)]) != "ok"


def test_export_digest_rejects_one_changed_cell(oracle):
    import pyarrow as pa

    sql = W.export(1)[0].sql
    want = oracle.expected("export", sql)
    table = oracle.con.execute(O.strip_format(sql)).fetch_arrow_table()
    assert oracle.digest_table(table, want[2]) == want
    col = table.column("l_quantity").to_pylist()
    col[len(col) // 2] += 1
    bad = table.set_column(table.schema.get_field_index("l_quantity"), "l_quantity",
                           pa.array(col, pa.float64()))
    assert oracle.digest_table(bad, want[2]) != want
    assert oracle.digest_table(table.slice(1), want[2]) != want


def test_export_digest_reads_every_http_format(oracle):
    import csv
    import io

    sql = W.export(2)[0].sql
    want = oracle.expected("export", sql)
    cur = oracle.con.execute(O.strip_format(sql))
    names = [d[0] for d in cur.description]
    rows = [[O.canon(v) for v in r] for r in cur.fetchall()]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(names)
    w.writerows(rows)
    bodies = {
        "CSV": buf.getvalue().encode(),
        "JSONEachRow": "".join(json.dumps(dict(zip(names, r))) + "\n" for r in rows).encode(),
        "JSONCompact": json.dumps({"meta": [{"name": n} for n in names], "data": rows}).encode(),
    }
    for fmt, body in bodies.items():
        assert oracle.digest_table(O.http_table(body, fmt), want[2]) == want, fmt


# --- self time over nested spans ---------------------------------------------

def test_self_time_over_nested_spans():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild: not subtracted from 1
        {"id": 4, "parent": 1, "start": 5.0, "end": 9.0},
        {"id": 5, "parent": 1, "start": 8.0, "end": 9.5},  # overlaps 4: counted once
        {"id": 6, "parent": 1, "start": 0.5, "end": 9.9, "busy": 0.5},  # aggregate
        {"id": 7, "parent": 6, "start": 0.6, "end": 9.8, "busy": 0.2},  # aggregate under aggregate
    ]
    st = S.self_times(spans)
    assert st[1] == pytest.approx(10 - (3 + 4.5) - 0.5)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(4)
    assert st[5] == pytest.approx(1.5)
    assert st[6] == pytest.approx(0.5 - 0.2)
    assert st[7] == pytest.approx(0.2)


def test_self_times_of_a_request_add_up_to_its_root():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 1.0},
        {"id": 2, "parent": 1, "start": 0.1, "end": 0.6},
        {"id": 3, "parent": 2, "start": 0.2, "end": 0.3},
        {"id": 4, "parent": 2, "start": 0.3, "end": 0.5, "busy": 0.05},
        {"id": 5, "parent": 1, "start": 0.7, "end": 0.9},
    ]
    assert sum(S.self_times(spans).values()) == pytest.approx(1.0)


def test_child_reaching_past_its_parent_is_clipped():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 2.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
    ]
    assert S.self_times(spans)[1] == pytest.approx(1.0)


# --- host counters --------------------------------------------------------------

def test_steal_share_from_proc_stat():
    before = S.cpu_counters("cpu  100 0 50 800 10 0 5 35 7 0\ncpu0 1 2 3")
    after = S.cpu_counters("cpu  200 0 100 1600 20 0 10 70 9 0\n")
    assert before == (35, 1000)
    assert S.steal_pct(before, after) == pytest.approx(3.5)
