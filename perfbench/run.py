"""Serving benchmark: dashboard, export and ingest traffic over the HTTP API
and Arrow Flight, measured from request in to bytes out on the wire.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

`--workload all` runs the three in turn. BENCHMARK.json lists dashboard
and ingest; export runs by name but is outside it, because its latencies
spread more between runs than any bound allows (spec.json). The server
runs in its own process (perfbench/server.py); this process is the only
client. Every
answer is checked (DuckDB oracle, HTTP/Flight parity, ingest prefix
counts); a wrong answer with status 200 makes the run exit 1.

With --trace 0 the run reports the end-to-end metrics. With --trace 1 it
sends the same seeded traffic, half as long, four times: untraced, traced,
traced, untraced, with span wrappers (perfbench/tracer.py) installed in the
server for the middle two. It reports per-layer metrics, each request's
latency split into layer self times, and the tracing overhead between the
traced and untraced passes. The last line of stdout is one JSON object:
correct, attempted, failed, metrics (BENCHMARK.json lists them).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter, defaultdict
from time import perf_counter

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import oracle as O  # noqa: E402
from perfbench import stats as S  # noqa: E402
from perfbench import workloads as W  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
STATE_DIR = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(STATE_DIR, "tpch-sf0.1")
FAILED_MS = 1e9  # a percentile that lands on a failed request


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def jvm_heap() -> str:
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def read(path: str) -> str:
    with open(path) as f:
        return f.read()


class Phase:
    """One pass of a workload's traffic against the running server."""

    def __init__(self, name: str):
        self.name = name
        self.results: list = []
        self.late: list[float] = []
        self.elapsed = 0.0
        self.extra: dict = {}
        self.cpu0 = S.cpu_counters(read("/proc/stat"))
        self.cpu1 = None
        self.loadavg = 0.0

    def close(self) -> None:
        self.cpu1 = S.cpu_counters(read("/proc/stat"))
        self.loadavg = float(read("/proc/loadavg").split()[0])

    @property
    def steal_pct(self) -> float:
        return S.steal_pct(self.cpu0, self.cpu1)


def merge(phases: list[Phase], name: str) -> Phase:
    """Consecutive or not, several passes read as one."""
    m = Phase(name)
    m.cpu0, m.cpu1 = phases[0].cpu0, phases[-1].cpu1
    for p in phases:
        m.results += p.results
        m.late += p.late
        m.elapsed += p.elapsed
        for k, v in p.extra.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                m.extra[k] = m.extra.get(k, 0) + v
    return m


# --- running a workload -----------------------------------------------------

def run_phase(workload: str, server, seed: int, seconds: float, phase: Phase, sampler) -> None:
    from perfbench import client as C

    t0 = perf_counter()
    if workload == "dashboard":
        reqs = W.dashboard(seed, round(W.DASHBOARD_SEQUENCE_PER_S * seconds), tag=phase.name)
        phase.results = C.client_per_protocol(server, reqs, seconds, sampler)
    elif workload == "export":
        phase.results = C.closed_loop(server, W.export(seed, tag=phase.name), seconds, sampler)
    else:
        table = f"{W.INGEST_SCHEMA}.ingest_{phase.name}"
        create_ingest_table(server, table)
        wres, rres, phase.late = C.ingest_loop(server, seed, table, seconds, sampler,
                                               W.ingest_writes(tag=phase.name), tag=phase.name)
        phase.results = wres + rres
        phase.extra = ingest_final(server, seed, table, wres)
    phase.elapsed = max(r.done for r in phase.results) - t0
    phase.close()


def create_ingest_table(server, table: str) -> None:
    from perfbench import client as C

    c = C.FlightConn(server.flight_port)
    schema = C.batch_table(0, 0).schema
    schema_name, name = table.split(".")
    c.action("create_schema", {"schema": schema_name})
    c.action("create_table", {"schema": schema_name, "table": name,
                              "arrow_schema_hex": schema.serialize().to_pybytes().hex()})
    c.close()


def ingest_final(server, seed: int, table: str, wres) -> dict:
    """Final count and id sum (outside the window) and the table's files."""
    import pyarrow as pa

    from perfbench import client as C

    c = C.FlightConn(server.flight_port)
    req = W.Req(rid="final", kind="final", proto="flight", sql=f"SELECT count(*) AS n, sum(id) AS s FROM {table}")
    res = C.Result(req, sent=perf_counter())
    c.send(req, res)
    c.close()
    acked = [r for r in wres if r.ok]
    ipc_bytes = 0
    for r in acked:
        sink = pa.BufferOutputStream()
        tbl = C.batch_table(seed, r.req.batch)
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        ipc_bytes += sink.getvalue().size
    db, name = table.split(".")
    tdir = os.path.join(server.cfg["warehouse"], f"{db}.db", name)
    files = parquet = stored = 0
    for dp, _, fs in os.walk(tdir):
        for f in fs:
            files += 1
            stored += os.path.getsize(os.path.join(dp, f))
            parquet += f.endswith(".parquet")
    return {"final": res, "tables": 1, "acked_rows": len(acked) * W.BATCH_ROWS, "batches": len(acked),
            "ipc_bytes": ipc_bytes, "files": files, "parquet_files": parquet, "stored_bytes": stored}


def warmup(workload: str, server, seed: int, sampler) -> None:
    """Let JIT compilation and lazy set-up finish before timing: the
    workload's own traffic for spec.json's warmup_s, sent the same way, not
    checked and not timed. The JVM keeps compiling for tens of seconds under
    these mixes, and a run that starts measuring early reads its first
    seconds slower by a share that differs from run to run. The dashboard
    warms on its own panel statements, as a dashboard that users have
    opened before."""
    from perfbench import client as C

    secs = SPEC["warmup_s"]
    if workload == "dashboard":
        reqs = W.dashboard(seed, round(W.DASHBOARD_SEQUENCE_PER_S * secs), tag="x")
        C.client_per_protocol(server, reqs, secs, sampler)
    elif workload == "export":
        C.closed_loop(server, W.export(seed, tag="x"), secs, sampler)
    else:
        table = f"{W.INGEST_SCHEMA}.ingest_warmup"
        create_ingest_table(server, table)
        C.ingest_loop(server, seed, table, secs, sampler, W.ingest_writes(tag="x"), tag="x")


# --- checking ---------------------------------------------------------------

def check_phase(workload: str, phase: Phase, oracle: O.Oracle, seed: int) -> None:
    """Sets every result's outcome: ok, hit, miss, error, known_defect or
    wrong: <reason>; and its row count."""
    by_rid = {r.req.rid: r for r in phase.results}
    expected: dict[str, object] = {}

    def exp(kind: str, sql: str):
        if sql not in expected:
            expected[sql] = oracle.expected(kind, sql)
        return expected[sql]

    if workload == "ingest":
        check_ingest(phase, seed)
        return
    answers: dict[str, dict[str, list]] = defaultdict(dict)
    for r in phase.results:
        q = r.req
        if not r.ok:
            known = q.kind == "show_all_tables" and q.proto == "http" and "PARSE_SYNTAX_ERROR" in r.error
            r.outcome = "known_defect" if known else "error"
            continue
        try:
            if q.kind == "refetch":
                target = by_rid.get(q.refetch_of)
                if r.payload == b"Ok.":
                    r.outcome = "miss"
                elif target is not None and target.ok and r.payload == target.payload:
                    r.outcome, r.rows = "hit", target.rows
                else:
                    r.outcome = f"wrong: re-fetch of {q.refetch_of} returned other bytes"
                continue
            if q.kind == "list_flights":
                want = {"show_databases", "show_tables", "show_version", "list_schemas"} | {
                    f"tpch.{t}" for t in O.TPCH_TABLES}
                missing = want - set(r.table)
                r.outcome = "ok" if not missing else f"wrong: list_flights lacks {sorted(missing)}"
                continue
            if q.kind == "info_get":
                rows = O.arrow_rows(r.table)
                ok = O.same_rows(rows, exp("info_get", f"SELECT * FROM {q.path}"))
                r.outcome, r.rows = ("ok" if ok else "wrong: table scan differs"), len(rows)
                continue
            if q.kind == "export":
                types = exp("export", q.sql)[2]
                table = r.table if q.proto == "flight" else O.http_table(r.payload, q.fmt)
                got = oracle.digest_table(table, types)
                r.rows = table.num_rows
                r.outcome = "ok" if got == exp("export", q.sql) else (
                    f"wrong: digest {got[:2]} != {exp('export', q.sql)[:2]}")
                continue
            rows = (O.arrow_rows(r.table) if q.proto == "flight"
                    else O.http_rows(r.payload, O.response_format(q.sql, q.fmt)))
            r.rows = len(rows)
            verdict = O.check(q.kind, exp(q.kind, q.sql), rows)
            r.outcome = "ok" if verdict == "ok" else f"wrong: {verdict}"
            answers[q.sql][q.proto] = rows
        except (ValueError, KeyError, IndexError, TypeError) as ex:
            r.outcome = f"wrong: unreadable answer ({type(ex).__name__}: {ex})"
    # protocol parity: a statement answered on both protocols, same answer
    for r in phase.results:
        a = answers.get(r.req.sql or "")
        if a and len(a) == 2 and r.outcome == "ok" and not O.same_rows(a["http"], a["flight"]):
            r.outcome = "wrong: HTTP and Flight answers differ"


def check_ingest(phase: Phase, seed: int) -> None:
    # per-prefix truth: after j batches, ids 0..j*1000-1 and the min and
    # max of v over those rows
    n_batches = 1 + max((r.req.batch for r in phase.results if r.req.batch is not None), default=0)
    prefix = [(None, None, None)]
    for b in range(n_batches):
        v = W.ingest_batch(seed, b)["v"]
        _, lo, hi = prefix[-1]
        prefix.append(((b + 1) * W.BATCH_ROWS - 1, min(v) if lo is None else min(lo, *v),
                       max(v) if hi is None else max(hi, *v)))
    for r in phase.results:
        q = r.req
        if not r.ok:
            r.outcome = "error"
            continue
        if q.kind in ("do_put", "do_exchange", "http_insert"):
            r.rows = W.BATCH_ROWS
            ok = (q.kind == "do_put" or (q.kind == "do_exchange" and r.extra.get("ack") == W.BATCH_ROWS)
                  or (q.kind == "http_insert" and r.payload.strip() == str(W.BATCH_ROWS).encode()))
            r.outcome = "ok" if ok else "wrong: write not acknowledged with its row count"
            continue
        lo, hi = r.extra["acked_before"], r.extra["sent_after"]
        rows = O.arrow_rows(r.table)
        r.rows = len(rows)
        if q.kind == "poll_count":
            n, s = rows[0]
            s = s or 0
            ok = lo <= n <= hi and n % W.BATCH_ROWS == 0 and s == n * (n - 1) // 2
            r.outcome = "ok" if ok else f"wrong: count {n} sum {s} outside [{lo}, {hi}] prefix"
        else:
            ok = any(rows == [prefix[j]]
                     for j in range(lo // W.BATCH_ROWS, min(hi // W.BATCH_ROWS, n_batches) + 1))
            r.outcome = "ok" if ok else f"wrong: aggregate {rows} matches no batch prefix in [{lo}, {hi}]"
    fin = phase.extra["final"]
    acked = phase.extra["acked_rows"]
    want = (acked, acked * (acked - 1) // 2) if acked else (0, None)
    got = tuple(O.arrow_rows(fin.table)[0]) if fin.ok else None
    phase.extra["final_ok"] = got == want
    phase.extra["final_got"], phase.extra["final_want"] = got, want


# --- metrics ----------------------------------------------------------------

def latencies_ms(results, proto: str) -> list[float]:
    """Latency samples of one protocol; Flight writes (ingest) are excluded,
    so Flight latency on ingest is the reader's polls."""
    return [
        r.latency * 1e3 if r.ok else float("inf")
        for r in results if r.req.proto == proto and r.req.kind not in ("do_put", "do_exchange")
    ]


def finite(x: float) -> float:
    return x if x != float("inf") else FAILED_MS


def e2e_metrics(phase: Phase) -> dict[str, tuple[float, str, str]]:
    """name -> (value, unit, note with sample count)."""
    out = {}
    for proto in ("http", "flight"):
        xs = latencies_ms(phase.results, proto)
        if not xs:
            continue
        t, pct = S.tail(xs)
        ok = [x for x in xs if x != float("inf")]
        out[f"{proto}_geomean_ms"] = (S.geomean(ok), "ms", f"n={len(ok)} answered of {len(xs)}")
        out[f"{proto}_p50_ms"] = (finite(S.median(xs)), "ms", f"n={len(xs)}")
        out[f"{proto}_tail_ms"] = (finite(t), "ms", f"p{pct:.1f}, n={len(xs)}")
    nbytes = sum(r.nbytes for r in phase.results if r.ok)
    rows = sum(getattr(r, "rows", 0) for r in phase.results if r.ok)
    out["result_mb_per_s"] = (nbytes / 1e6 / phase.elapsed, "MB/s",
                              f"{nbytes} B in {phase.elapsed:.2f} s")
    out["rows_per_s"] = (rows / phase.elapsed, "1/s", f"{rows} rows in {phase.elapsed:.2f} s")
    return out


def kind_table(phase: Phase) -> list[str]:
    """Median latency and sample count per statement kind and protocol."""
    by = defaultdict(list)
    for r in phase.results:
        by[(r.req.proto, r.req.kind)].append(r.latency * 1e3 if r.ok else float("inf"))
    return ["  by kind: " + ", ".join(
        f"{p}/{k} {finite(S.median(xs)):.0f}ms n={len(xs)}" for (p, k), xs in sorted(by.items()))]


def error_table(phase: Phase) -> list[str]:
    by = defaultdict(Counter)
    for r in phase.results:
        by[(r.req.proto, r.req.kind)][r.outcome.split(":")[0]] += 1
    lines = []
    for proto in ("http", "flight"):
        tot = sum(sum(c.values()) for (p, _), c in by.items() if p == proto)
        errs = sum(c["error"] + c["known_defect"] for (p, _), c in by.items() if p == proto)
        if not tot:
            continue
        lines.append(f"  error_rate {proto}: {errs}/{tot} = {100 * errs / tot:.1f}%")
        for (p, kind), c in sorted(by.items()):
            if p == proto and (c["error"] or c["known_defect"]):
                lines.append(f"    {kind}: {c['error']} error, {c['known_defect']} known defect "
                             f"of {sum(c.values())}")
    return lines


# --- traced-run analysis ------------------------------------------------------

BUCKETS = ("dialect", "engine", "http_app", "formats", "flight_server", "cache", "namespaces",
           "ingest", "wire", "unattributed")


def bucket_of(name: str) -> str:
    if name == "http_app.execute_query":
        return "unattributed"  # its own code between the layers it calls
    if name == "flight_server.write":
        return "wire"  # Flight serialising and writing batches between stream steps
    return name.split(".")[0]


def load_spans(path: str) -> tuple[list[dict], dict]:
    spans, tail = [], {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if "counters" in rec:
                tail = rec
            else:
                spans.append(rec)
    return spans, tail


def layer_metrics(phase: Phase, spans: list[dict], tail: dict, jvm0: dict, jvm1: dict,
                  untraced: Phase) -> tuple[dict[str, float], list[str]]:
    selfs = S.self_times(spans)
    by_rid = defaultdict(list)
    for s in spans:
        if s.get("rid"):
            by_rid[s["rid"]].append(s)
    reqs = [r for r in phase.results if r.req.rid in by_rid]
    n_req = max(1, len(phase.results))
    tot = defaultdict(float)
    cnt = Counter()
    for s in spans:
        tot[s["name"]] += selfs[s["id"]]
        cnt[s["name"]] += 1
    dur = defaultdict(float)
    for s in spans:
        dur[s["name"]] += s.get("busy", s["end"] - s["start"])
    by_id = {s["id"]: s for s in spans}
    collect_in_format = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "engine.collect" and by_id.get(s.get("parent"), {}).get("name") == "formats.format_result")

    def per(total: float, n: int) -> float:
        return total / n if n else 0.0

    ms = 1e3
    eng = tail.get("engine", {})
    c = tail.get("counters", {})
    http_reqs = [r for r in reqs if r.req.proto == "http"]
    handler = {s["rid"]: s["end"] - s["start"] for s in spans if s["name"] == "http_app.handler"}
    wire = [(r.done - r.sent) - handler[r.req.rid] for r in http_reqs if r.req.rid in handler]
    n_appends = cnt["ingest.append_table"] + cnt["ingest.insert_ndjson"]
    x = phase.extra
    m = {
        "dialect.ms_per_req": per(sum(v for k, v in tot.items() if k.startswith("dialect.")), n_req) * ms,
        "engine.analyze_ms": per(tot["engine.analyze"], n_req) * ms,
        "engine.jobs_per_req": per(eng.get("jobs", 0), n_req),
        "engine.stages_per_req": per(eng.get("stages", 0), n_req),
        "engine.tasks_per_req": per(eng.get("tasks", 0), n_req),
        "engine.executor_run_ms": per(eng.get("executor_run_ms", 0), n_req),
        "engine.executor_cpu_ms": per(eng.get("executor_cpu_ms", 0), n_req),
        "engine.shuffle_bytes": per(eng.get("shuffle_bytes", 0), n_req),
        "engine.input_bytes": per(eng.get("input_bytes", 0), n_req),
        "http_app.self_ms": per(tot["http_app.handler"], cnt["http_app.handler"]) * ms,
        "http_app.wire_ms": per(sum(wire), len(wire)) * ms,
        "formats.collect_ms": per(collect_in_format, cnt["formats.format_result"]) * ms,
        "formats.serialize_ms": per(tot["formats.format_result"], cnt["formats.format_result"]) * ms,
        "formats.bytes_out": per(c.get("formats.bytes_out", 0), cnt["formats.format_result"]),
        "flight_server.fetch_ms": per(dur["engine.fetch"], cnt["flight_server.do_get"]) * ms,
        "flight_server.batch_ms": per(tot["flight_server.stream"], cnt["flight_server.do_get"]) * ms,
        "flight_server.batches": per(c.get("flight_server.batches", 0), cnt["flight_server.do_get"]),
        "flight_server.info_ms": per(dur["flight_server.get_flight_info"], cnt["flight_server.get_flight_info"]) * ms,
        "flight_server.list_ms": per(dur["flight_server.list_flights"], cnt["flight_server.list_flights"]) * ms,
        "cache.hit_ratio": per(c.get("cache.hits", 0), c.get("cache.probes", 0)),
        "cache.probes": c.get("cache.probes", 0),
        "cache.bytes_held": c.get("cache.bytes_held", 0),
        "namespaces.lookup_ms": per(dur["namespaces.lookup"], cnt["namespaces.lookup"]) * ms,
        "namespaces.sessions": tail.get("namespaces.sessions", 0),
        "ingest.convert_ms": per(tot["ingest.append_table"] + tot["ingest.insert_ndjson"], n_appends) * ms,
        "ingest.write_ms": per(dur["ingest.write"], n_appends) * ms,
        "ingest.lock_wait_ms": per(dur["ingest.lock_wait"], cnt["ingest.lock_wait"]) * ms,
        "warehouse.files_per_batch": per(x.get("parquet_files", 0), x.get("batches", 0)),
        "warehouse.bytes_per_row": per(x.get("stored_bytes", 0), x.get("acked_rows", 0)),
        "warehouse.files_end": per(x.get("parquet_files", 0), x.get("tables", 0)),
        "warehouse.stored_bytes_per_input_byte": per(x.get("stored_bytes", 0), x.get("ipc_bytes", 0)),
        "jvm.gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
        "jvm.heap_peak_mb": jvm1["heap_peak_bytes"] / 2**20,
        "load.late_ms": per(sum(phase.late), len(phase.late)) * ms,
        "host.steal_pct": phase.steal_pct,
    }
    all_t = [r.latency for r in phase.results if r.ok]
    all_u = [r.latency for r in untraced.results if r.ok]
    m["trace.overhead_pct"] = 100 * (S.geomean(all_t) / S.geomean(all_u) - 1)

    # per-request decomposition: layer self times + wire + unattributed =
    # the latency the client saw from send
    lines = ["  per-request decomposition, mean ms (client latency from send):"]
    unattributed = []
    for proto in ("http", "flight"):
        rows = []
        for r in reqs:
            if r.req.proto != proto:
                continue
            b = dict.fromkeys(BUCKETS, 0.0)
            spans_r = by_rid[r.req.rid]
            roots = [s for s in spans_r if by_id.get(s.get("parent")) is None]
            for s in spans_r:
                b[bucket_of(s["name"])] += selfs[s["id"]]
            client_s = r.done - r.sent
            b["wire"] += client_s - sum(s["end"] - s["start"] for s in roots)
            rows.append((client_s, b))
            unattributed.append(b["unattributed"])
        if not rows:
            continue
        mean = {k: statistics.fmean(b[k] for _, b in rows) * ms for k in BUCKETS}
        client_ms = statistics.fmean(c for c, _ in rows) * ms
        gap = max(abs(c - sum(b.values())) for c, b in rows) * ms
        lines.append(f"    {proto:6s} n={len(rows):4d} client={client_ms:8.2f}  " + " ".join(
            f"{k}={v:.2f}" for k, v in mean.items() if v) + f"  (max |sum - client| {gap:.3f} ms)")
    m["trace.unattributed_ms"] = per(sum(unattributed), len(unattributed)) * ms
    return m, lines


# --- one workload -------------------------------------------------------------

def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import client as C

    t_fix = perf_counter()
    O.ensure_fixtures(DATA_DIR)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE_DIR)
    oracle = O.Oracle(DATA_DIR)
    sampler = C.RssSampler()
    server = None
    out: dict = {"workload": workload, "lines": [], "stages": []}
    mark = [t_fix]

    def stage(name: str) -> None:
        now = perf_counter()
        out["stages"].append(f"{name} {now - mark[0]:.1f}s")
        mark[0] = now

    try:
        stage("fixtures+oracle")
        server = C.Server(run_dir, DATA_DIR, host_cpus(), jvm_heap(), "main")
        setup_s = server.start(sampler)
        stage("setup")
        warmup(workload, server, seed, sampler)
        stage("warmup")
        if not trace:
            phases = [Phase("main")]
            run_phase(workload, server, seed, seconds, phases[0], sampler)
        else:
            # untraced, traced, traced, untraced: the same half-length
            # schedule four times, so the JVM still warming across the run
            # cancels out of the overhead instead of reading as a speed-up
            phases = [Phase(n) for n in ("u1", "t1", "t2", "u2")]
            spans_path = os.path.join(run_dir, "spans.jsonl")
            for p in phases:
                if p.name == "t1":
                    jvm0 = server.command("trace_on")["jvm"]
                run_phase(workload, server, seed, seconds / 2, p, sampler)
                if p.name == "t2":
                    jvm1 = server.command("trace_off", path=spans_path)["jvm"]
        stage("phases")
        leftover = None
        if trace:
            # what the program leaves in its own dirs after a clean stop
            server.stop()
            leftover = sum(
                os.path.getsize(os.path.join(dp, f))
                for d in (server.cfg["local_dir"], server.cfg["tmp_dir"])
                for dp, _, fs in os.walk(d) for f in fs
            )
        else:
            server.kill()
        stage("stop")
        for p in phases:
            check_phase(workload, p, oracle, seed)
        stage("checks")
        if trace:
            spans, tail = load_spans(spans_path)
            traced, untraced = merge(phases[1:3], "traced"), merge(phases[::3], "untraced")
            layers, decomposition = layer_metrics(traced, spans, tail, jvm0, jvm1, untraced)
            layers["hygiene.leftover_bytes"] = leftover
            layers["jvm.rss_peak_mb"] = sampler.peak_jvm / 2**20
            out["layers"], out["lines"] = layers, decomposition
        m = e2e_metrics(untraced if trace else phases[0])
        m["setup_s"] = (setup_s, "s", "process start until both protocols answer")
        m["peak_rss_mb"] = (sampler.peak_python / 2**20, "MB",
                            f"server's Python process; its JVM {sampler.peak_jvm / 2**20:.0f} MB")
        out["e2e"] = m
        wrong = [(p.name, r.req.rid, r.req.kind, r.req.proto, r.outcome)
                 for p in phases for r in p.results if r.outcome.startswith("wrong")]
        out["wrong"] = wrong + [
            (p.name, "final", "count/sum(id)", "flight", f"{p.extra['final_got']} != {p.extra['final_want']}")
            for p in phases if "final_ok" in p.extra and not p.extra["final_ok"]]
        out["attempted"] = sum(len(p.results) for p in phases)
        out["failed"] = sum(r.outcome == "error" for p in phases for r in p.results)
        out["phases"] = phases
        out["leftover"] = leftover
    finally:
        if server is not None:
            server.kill()
        oracle.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    out["left_after_cleanup"] = sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(run_dir) for f in fs)
    return out


def report(out: dict, seed: int, seconds: float, trace: bool) -> None:
    w = out["workload"]
    print(f"workload={w} seed={seed} seconds={seconds} trace={int(trace)} "
          f"cpus={host_cpus()} jvm_heap={jvm_heap()}")
    for p in out["phases"]:
        print(f"  phase {p.name}: {len(p.results)} requests in {p.elapsed:.2f} s, "
              f"steal {p.steal_pct:.1f}%, loadavg {p.loadavg:.2f}")
        for line in error_table(p) + kind_table(p):
            print(line)
    for name, (v, unit, note) in sorted(out["e2e"].items()):
        print(f"  {name:22s} {v:12.3f} {unit:5s} ({note})")
    for line in out["lines"]:
        print(line)
    for name, v in sorted(out.get("layers", {}).items()):
        print(f"  {name:40s} {v:14.4f}")
    print(f"  bytes left in the server's local and temp dirs after a clean stop: "
          f"{'not measured (server killed)' if out['leftover'] is None else out['leftover']}; "
          f"under the run dir after cleanup: {out['left_after_cleanup']}")
    print("  stages: " + ", ".join(out["stages"]))
    for wrong in out["wrong"][:20]:
        print("  WRONG", *wrong)


def result_line(out: dict, trace: bool) -> dict:
    """The metrics BENCHMARK.json lists for this mode, each with its unit.
    Printed-only metrics (the medians and tails, result_mb_per_s,
    rows_per_s) stay out of it."""
    listed = BENCH["per_layer" if trace else "end_to_end"]
    values = out["layers"] if trace else {k: v[0] for k, v in out["e2e"].items()}
    missing = {m["name"] for m in listed} - set(values)
    if missing or (trace and set(values) != {m["name"] for m in listed}):
        raise RuntimeError(f"metrics measured {sorted(values)} differ from BENCHMARK.json's")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    return {"correct": not out["wrong"], "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "quackflight_spark", "serving")):
        print("quackflight_spark/serving not found: run from the repository root", file=sys.stderr)
        return 2
    os.makedirs(STATE_DIR, exist_ok=True)
    names = W.WORKLOADS if a.workload == "all" else (a.workload,)
    lines = []
    for w in names:
        t = time.time()
        out = run_workload(w, a.seed, a.seconds, bool(a.trace))
        report(out, a.seed, a.seconds, bool(a.trace))
        print(f"  wall {time.time() - t:.1f} s")
        lines.append(result_line(out, bool(a.trace)))
    if len(lines) == 1:
        final = lines[0]
    else:
        final = {"correct": all(x["correct"] for x in lines),
                 "attempted": sum(x["attempted"] for x in lines),
                 "failed": sum(x["failed"] for x in lines),
                 "metrics": {f"{w}.{k}": v for w, x in zip(names, lines) for k, v in x["metrics"].items()}}
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
