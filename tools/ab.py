"""Interleaved A/B of registry keys between two source trees.

Each run is one key in a fresh Python process whose cwd and PYTHONPATH
are the tree under test (executors import the package from the cwd, so
a run must never mix trees). The run builds the key's DataFrame and
consumes the whole result with a `noop` write, which unlike `count()`
keeps every operator Catalyst would prune. It reports:

- wall time of build + consume (driver-side loop rounds included);
- Spark jobs run, from a job group and the status tracker;
- /proc/stat steal% over the run (a noisy host reads 30-40% slower);
- per-loop round counts from the fixpoint record, when the tree has one.

Pairs alternate which tree runs first. The summary gives, per key and
side, the median wall time with its quartiles, the job-count range and
the round counts.

Usage:
    git archive <sha> | tar -x -C /tmp/old     # a parent tree
    python tools/ab.py /tmp/old . graph_kcore graph_scc --pairs 5
    python tools/ab.py OLD NEW KEY... --sf /root/testdata/sf0.01 --json out.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _child(key: str, sf_dir: str) -> None:
    """One timed run of `key` in this process (cwd = the tree)."""
    import contextlib

    import __spark_entry__ as entry
    from quackflight_spark.session import get_spark

    try:
        from quackflight_spark.pipeline.fixpoint import recording
    except ImportError:  # a tree from before the fixpoint helper
        recording = None

    spark = get_spark(app_name="ab")
    sc = spark.sparkContext
    fn = entry.queries()[key]
    sc.setJobGroup("ab", key)
    steal0, total0 = _cpu_times()
    t0 = time.perf_counter()
    with recording() if recording else contextlib.nullcontext({}) as loops:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    steal1, total1 = _cpu_times()
    print(json.dumps({
        "wall_s": round(wall, 3),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("ab")),
        "steal_pct": round(100 * (steal1 - steal0) / max(1, total1 - total0), 2),
        "rounds": {name: r["rounds"] for name, r in loops.items()},
    }))
    spark.stop()


def _run(tree: str, key: str, sf_dir: str) -> dict:
    env = dict(os.environ, PYTHONPATH=tree)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", key, sf_dir],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{key} in {tree} failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--json", help="also write every run to this file")
    args = ap.parse_args()

    sides = {"old": os.path.abspath(args.old), "new": os.path.abspath(args.new)}
    runs: list[dict] = []
    for i in range(args.pairs):
        order = ("old", "new") if i % 2 == 0 else ("new", "old")
        for key in args.keys:
            for side in order:
                r = _run(sides[side], key, args.sf)
                r.update(pair=i, key=key, side=side)
                runs.append(r)
                print(json.dumps(r), flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf": args.sf, "trees": sides, "runs": runs}, f, indent=1)

    print(f"\nsf={args.sf} pairs={args.pairs}")
    print(f"{'key':28} {'side':4} {'median_s':>9} {'q1':>7} {'q3':>7} "
          f"{'jobs':>9} {'steal%':>7}  rounds")
    for key in args.keys:
        for side in ("old", "new"):
            rs = [r for r in runs if r["key"] == key and r["side"] == side]
            q1, med, q3 = _quartiles([r["wall_s"] for r in rs])
            jobs = sorted({r["jobs"] for r in rs})
            job_txt = f"{jobs[0]}-{jobs[-1]}" if len(jobs) > 1 else str(jobs[0])
            steal = statistics.median(r["steal_pct"] for r in rs)
            rounds = sorted({json.dumps(r["rounds"], sort_keys=True) for r in rs})
            print(f"{key:28} {side:4} {med:9.2f} {q1:7.2f} {q3:7.2f} "
                  f"{job_txt:>9} {steal:7.2f}  {' | '.join(rounds)}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3])
    else:
        main()
