"""One convergence loop for the operators that decide on the driver,
after every round, whether to run another; the reference leaves such
recursion to DuckDB. Each caller's step keeps its round body and one
fused action; `fixpoint` owns the round cap, the release of superseded
round state (dead blocks otherwise wait for a JVM GC: at a x10 workload
the ktruss ledger piled up 27 GB and ran 1.5x slower) and the record.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any, Callable, Iterator
from urllib.parse import urlparse

from pyspark.sql import DataFrame

from quackflight_spark.staging import stage_root

STAGE = stage_root("fixpoint")
_RECORD: ContextVar[dict[str, Counter] | None] = ContextVar("fixpoint_record", default=None)


@contextmanager
def recording() -> Iterator[dict[str, Counter]]:
    """Per loop name, the rounds, released, noops and release_failures of
    every `fixpoint` run in this block (summed over calls). A convergence
    count carried by an `Observation` is exact only without speculative
    execution or task retries."""
    token = _RECORD.set(defaultdict(Counter))
    try:
        yield _RECORD.get()
    finally:
        _RECORD.reset(token)


def stage_parquet(df: DataFrame) -> DataFrame:
    """A parquet round trip under STAGE: truncates lineage AND Catalyst
    statistics, which a localCheckpoint carries forward."""
    path = f"{STAGE}/{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def release(df: DataFrame) -> str:
    """Unpersist a localCheckpoint or delete a `stage_parquet` directory;
    return the record field it counts under: released, noops (nothing to
    free) or release_failures (logged; fail-open: ContextCleaner remains)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        kind = plan.getClass().getSimpleName()
        if kind == "LogicalRDD":
            plan.rdd().unpersist(False)
            return "released"
        if kind == "LogicalRelation":
            dirs = {os.path.dirname(urlparse(f).path) for f in df.inputFiles()}
            if dirs and all(os.path.dirname(d) == STAGE for d in dirs):
                for d in dirs:
                    shutil.rmtree(d)
                return "released"
        return "noops"
    except Exception:
        logging.getLogger(__name__).warning("fixpoint: release failed", exc_info=True)
        return "release_failures"


def _frames(state: object) -> list[DataFrame]:
    return [x for x in (state if isinstance(state, tuple) else (state,))
            if isinstance(x, DataFrame)]


def fixpoint(name: str, max_rounds: int, step: Callable[[Any], tuple[Any, bool]],
             state: Any, *, release_superseded: bool = True) -> Any:
    """Run `state, done = step(state)` until `done`; return that state (a
    DataFrame or a tuple of DataFrames and plain values). A step ends with
    the action that materializes the state it returns; then each old-state
    DataFrame the new state does not hold is released. A premature release
    fails loudly on the next read (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND): a
    loop whose result lazily reads every round passes
    `release_superseded=False`. Raises RuntimeError after `max_rounds`."""
    record = _RECORD.get()
    stats = record[name] if record is not None else Counter()
    for _ in range(max_rounds):
        new_state, done = step(state)
        stats["rounds"] += 1
        if release_superseded:
            live = {id(df) for df in _frames(new_state)}
            for df in _frames(state):
                if id(df) not in live:
                    stats[release(df)] += 1
        state = new_state
        if done:
            return state
    raise RuntimeError(f"{name}: did not converge within {max_rounds} rounds; "
                       "raise its round cap")
