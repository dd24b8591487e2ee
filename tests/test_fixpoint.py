"""The fixpoint helper (pipeline/fixpoint.py) and the loops that run
through it: loud round caps, release of superseded round state, and
round counts that match the hand-rolled loops they replaced."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quackflight_spark.pipeline import fixpoint as fp

SF_MID = "/root/testdata/sf0.01"


def _queries():
    import __spark_entry__ as e

    return e.queries()


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark._jsc.sc().getRDDStorageInfo()}


def _two_cycle_digraph(spark) -> DataFrame:
    # cycles {1,2} and {3,4} joined by 2->3: the first peel resolves
    # {1,2} only (b(3) = 1 != f(3) = 3), the second resolves {3,4}
    return spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)], "src: bigint, dst: bigint"
    ).localCheckpoint(eager=False)


def _scc_peel_two_cycles(spark):
    from quackflight_spark.operators import graph

    return graph._scc_peel(spark, _two_cycle_digraph(spark)).collect()


def _recursive_fallback(spark, sf_dir):
    from quackflight_spark.operators.recursive import fixpoint_recursive_cte

    return fixpoint_recursive_cte(spark, sf_dir)


@pytest.mark.parametrize("module, cap, loop, run", [
    ("quackflight_spark.operators.graph", "KCORE_MAX_ROUNDS", "kcore_peel",
     lambda spark, sf: _queries()["graph_kcore"](spark, sf)),
    ("quackflight_spark.operators.graph", "KTRUSS_MAX_ROUNDS", "ktruss_peel",
     lambda spark, sf: _queries()["graph_ktruss"](spark, sf)),
    ("quackflight_spark.operators.graph", "SCC_MAX_OUTER", "scc_outer",
     lambda spark, sf: _scc_peel_two_cycles(spark)),
    ("quackflight_spark.operators.graph", "SCC_MAX_INNER", "scc_fb_inner",
     lambda spark, sf: _scc_peel_two_cycles(spark)),
    ("quackflight_spark.operators.recursive", "WCC_MAX_ROUNDS", "graph_wcc",
     lambda spark, sf: _queries()["graph_wcc"](spark, sf)),
    ("quackflight_spark.operators.recursive", "MAX_ITERATIONS",
     "fixpoint_reachability", lambda spark, sf: _recursive_fallback(spark, sf)),
], ids=["kcore_peel", "ktruss_peel", "scc_outer", "scc_fb_inner", "graph_wcc",
        "fixpoint_reachability"])
def test_round_cap_raises_naming_loop(spark, sf_dir, monkeypatch, module, cap,
                                      loop, run):
    """Every migrated loop fails loudly at its cap instead of returning a
    truncated answer, and the error names the loop."""
    import importlib

    monkeypatch.setattr(importlib.import_module(module), cap, 1)
    with pytest.raises(RuntimeError, match=f"^{loop}: did not converge within 1 rounds"):
        run(spark, sf_dir)


def test_fixpoint_reachability_cycle_raises(spark, monkeypatch):
    """A cyclic edge set never reaches a fixpoint under UNION ALL
    recursion: the fallback must raise at its cap, not return a closure
    truncated at the cap's depth, and must not leave every round's
    frontier persisted."""
    from quackflight_spark.operators import recursive

    monkeypatch.setattr(recursive, "MAX_ITERATIONS", 3)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src: bigint, dst: bigint")
    seeds = spark.createDataFrame([(1, 1, 0)], "start: bigint, reach: bigint, depth: int")
    before = _cached_rdds(spark)
    with pytest.raises(RuntimeError, match="^fixpoint_reachability: did not converge"):
        recursive.fixpoint_reachability(seeds, edges)
    # the last round's closure + frontier are all that can be held
    assert len(_cached_rdds(spark) - before) <= 2


def test_release_failure_is_counted_apart_from_noops(spark):
    """A release that raises (here: a frame whose `_jdf` raises) is
    fail-open, but counted as a failure, not as a no-op."""

    class Broken(DataFrame):
        @property
        def _jdf(self):
            raise RuntimeError("no JVM frame")

    broken = object.__new__(Broken)
    derived = spark.range(3).select("id")

    def step(state):
        return spark.range(1).localCheckpoint(eager=False), True

    with fp.recording() as rec:
        fp.fixpoint("broken_release", 5, step, (broken, derived))
    assert rec["broken_release"]["rounds"] == 1
    assert rec["broken_release"]["release_failures"] == 1
    assert rec["broken_release"]["noops"] == 1
    assert rec["broken_release"]["released"] == 0


def test_fixpoint_holds_only_live_state(spark):
    """A 6-round fixpoint over spark.range, consumed in full, leaves no
    block-holding RDD beyond its returned state: each round's checkpoint
    is released once its successor has counted, and the successors read
    only live blocks (a premature release would fail the collect)."""
    before = _cached_rdds(spark)
    start = spark.range(64).select("id", F.lit(0).alias("x")).localCheckpoint(eager=False)

    def bump(df):
        nxt = df.select("id", (F.col("x") + 1).alias("x")).localCheckpoint(eager=False)
        return nxt, nxt.filter(F.col("x") < 6).count() == 0

    with fp.recording() as rec:
        out = fp.fixpoint("bump", 10, bump, start)
    rows = out.collect()
    assert len(rows) == 64 and {r.x for r in rows} == {6}
    assert rec["bump"]["rounds"] == 6 and rec["bump"]["released"] == 6
    assert len(_cached_rdds(spark) - before) <= 1


def test_scc_keeps_one_stage_dir_per_outer_round(spark):
    """The inner propagation deletes each superseded parquet round; only
    the labels each outer round returns stay on disk (one per outer
    round, read lazily by the result)."""
    before = set(os.listdir(fp.STAGE)) if os.path.isdir(fp.STAGE) else set()
    with fp.recording() as rec:
        rows = _queries()["graph_scc"](spark, SF_MID).collect()
    assert rows
    left = set(os.listdir(fp.STAGE)) - before
    assert rec["scc_fb_inner"]["rounds"] > rec["scc_outer"]["rounds"]
    assert len(left) <= rec["scc_outer"]["rounds"]
    assert rec["scc_fb_inner"]["release_failures"] == 0


@pytest.mark.parametrize("key, rounds", [
    ("graph_kcore", {"kcore_peel": 6}),
    ("graph_ktruss", {"ktruss_peel": 4}),
    ("graph_scc", {"scc_outer": 4, "scc_fb_inner": 33}),
    ("graph_wcc", {"graph_wcc": 3}),
    ("graph_modularity_components", {"graph_modularity": 3}),
    ("dedup_clusters", {"dedup_clusters": 2}),
    ("cluster_dbscan", {"cluster_dbscan": 5}),
])
def test_round_counts_match_hand_rolled_loops(spark, key, rounds):
    """Round counts at sf0.01, consumed in full, equal those of the
    hand-rolled loops the helper replaced (the CC kernel's, which they
    did not record, were counted from their per-round checkpoint
    frees)."""
    with fp.recording() as rec:
        _queries()[key](spark, SF_MID).write.format("noop").mode("overwrite").save()
    assert {name: r["rounds"] for name, r in rec.items()} == rounds
    assert all(r["release_failures"] == 0 for r in rec.values())
