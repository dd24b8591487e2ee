"""Client side of the serving benchmark: the server process handle, the two
protocol clients and the loops that drive a workload over real sockets.

Each request is timed from when it was sent to its last byte. Payloads are
kept for checking after the measured window, so no parsing competes with
the load.
"""

from __future__ import annotations

import base64
import http.client
import json
import os
import queue
import signal
import subprocess
import sys
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from time import perf_counter

import pyarrow as pa
import pyarrow.flight as fl

from perfbench import workloads as W
from perfbench.tracer import RID_HEADER

READY_TIMEOUT_S = 170


# --- the server process -----------------------------------------------------

def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                kids.append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of the server's Python process and, apart, of
    its child processes (the JVM), sampled whenever the client waits."""

    def __init__(self):
        self.peak_python = 0
        self.peak_jvm = 0
        self._pids: list[int] = []
        self._root = None
        self._last_scan = 0.0

    def watch(self, pid: int) -> None:
        self._root, self._pids, self._last_scan = pid, [pid], 0.0

    def sample(self) -> None:
        if self._root is None:
            return
        now = perf_counter()
        if now - self._last_scan > 1.0:  # the JVM child appears during start-up
            self._pids, self._last_scan = process_tree(self._root), now
        self.peak_python = max(self.peak_python, rss_bytes([self._root]))
        self.peak_jvm = max(self.peak_jvm, rss_bytes([p for p in self._pids if p != self._root]))

    def wait(self, seconds: float) -> None:
        end = perf_counter() + seconds
        while True:
            self.sample()
            left = end - perf_counter()
            if left <= 0:
                return
            time.sleep(min(0.05, left))


class Server:
    """One server process: started, timed until both protocols answer,
    commanded over stdin, stopped and waited for."""

    def __init__(self, run_dir: str, data_dir: str, cpus: int, heap: str, tag: str):
        base = os.path.join(run_dir, tag)
        self.cfg = {
            "cpus": cpus, "heap": heap, "data_dir": data_dir,
            "warehouse": os.path.join(base, "warehouse"),
            "local_dir": os.path.join(base, "local"),
            "tmp_dir": os.path.join(base, "tmp"),
        }
        self.base = base
        for d in ("local_dir", "tmp_dir"):
            os.makedirs(self.cfg[d], exist_ok=True)
        self.proc: subprocess.Popen | None = None
        self.pids: list[int] = []
        self._lines: queue.Queue = queue.Queue()
        self.http_port = self.flight_port = None

    def start(self, sampler: RssSampler) -> float:
        root = os.getcwd()
        # SPARK_GRAFT_CPUS: the program sizes shuffle partitions from it
        env = dict(os.environ, PYTHONPATH=root, TMPDIR=self.cfg["tmp_dir"],
                   SPARK_GRAFT_CPUS=str(self.cfg["cpus"]),
                   SPARK_LOCAL_DIRS=self.cfg["local_dir"], PYSPARK_PYTHON=sys.executable)
        t0 = perf_counter()
        self.log = open(os.path.join(self.base, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "server.py"), json.dumps(self.cfg)],
            cwd=root, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        threading.Thread(target=self._read, daemon=True).start()
        sampler.watch(self.proc.pid)
        ready = self._wait_line("@@ready", sampler, READY_TIMEOUT_S)
        self.http_port, self.flight_port = ready["http_port"], ready["flight_port"]
        # both protocols answer a query
        answered = False
        while not answered:
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=60)
                conn.request("GET", "/?" + urllib.parse.urlencode({"query": "SELECT 1"}))
                ok_http = conn.getresponse().status == 200
                conn.close()
                client = fl.connect(f"grpc://127.0.0.1:{self.flight_port}")
                client.do_get(fl.Ticket(b"SELECT 1")).read_all()
                client.close()
                answered = ok_http
            except (OSError, fl.FlightError):
                sampler.wait(0.05)
            if perf_counter() - t0 > READY_TIMEOUT_S:
                raise RuntimeError("server did not answer")
        setup_s = perf_counter() - t0
        self.pids = process_tree(self.proc.pid)
        return setup_s

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._lines.put(line)
        self._lines.put(None)

    def _wait_line(self, prefix: str, sampler: RssSampler | None, timeout: float) -> dict:
        end = perf_counter() + timeout
        while perf_counter() < end:
            if sampler:
                sampler.sample()
            try:
                line = self._lines.get(timeout=0.05)
            except queue.Empty:
                continue
            if line is None:
                raise RuntimeError(f"server exited (see {self.log.name}):\n" + self.log_tail())
            if line.startswith(prefix):
                return json.loads(line.split(" ", 1)[1])
        raise RuntimeError(f"no {prefix} from server within {timeout}s:\n" + self.log_tail())

    def log_tail(self) -> str:
        self.log.flush()
        with open(self.log.name) as f:
            return "".join(f.readlines()[-30:])

    def command(self, op: str, timeout: float = 120, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._wait_line("@@reply", None, timeout)

    def stop(self) -> None:
        """Graceful stop (the program releases its own resources), then make
        sure every process of the tree has ended."""
        if self.proc is None:
            return
        try:
            self.command("stop", timeout=60)
            self.proc.wait(timeout=60)
        except (RuntimeError, OSError, subprocess.TimeoutExpired):
            pass
        self.kill()

    def kill(self) -> None:
        if self.proc is None:
            return
        pids = set(self.pids) | set(process_tree(self.proc.pid))
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        end = perf_counter() + 30
        while perf_counter() < end and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.05)
        self.log.close()
        self.proc = None


# --- protocol clients -------------------------------------------------------

@dataclass
class Result:
    req: W.Req
    sent: float
    done: float = 0.0
    ok: bool = False
    error: str = ""
    payload: bytes | None = None  # HTTP body
    table: object = None  # Flight Arrow table or listing
    nbytes: int = 0
    rows: int = 0
    outcome: str = ""  # set by the checks after the window
    extra: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.done - self.sent


class HttpConn:
    AUTH = "Basic " + base64.b64encode(f"{W.AUTH_USER}:{W.AUTH_PASSWORD}".encode()).decode()

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def send(self, req: W.Req, res: Result, body: bytes | None = None) -> None:
        params = {}
        if req.sql and not body:
            params["query"] = req.sql
        if body is not None:
            params["query"] = f"INSERT INTO {req.path} FORMAT JSONEachRow"
        if req.fmt:
            params["default_format"] = req.fmt
        if req.query_id:
            params["query_id"] = req.query_id
        headers = {RID_HEADER: req.rid}
        if req.user:
            headers["Authorization"] = self.AUTH
        url = "/?" + urllib.parse.urlencode(params)
        try:
            self.conn.request("POST" if body is not None else "GET", url, body=body, headers=headers)
            r = self.conn.getresponse()
            data = r.read()
        except (OSError, http.client.HTTPException) as ex:
            res.done, res.error = perf_counter(), f"{type(ex).__name__}: {ex}"
            self.conn.close()  # reconnects on the next request
            return
        res.done = perf_counter()
        res.payload, res.nbytes = data, len(data)
        res.ok = r.status == 200
        if not res.ok:
            res.error = f"HTTP {r.status}: {data[:300].decode('utf-8', 'replace')}"

    def close(self) -> None:
        self.conn.close()


class FlightConn:
    AUTH = (b"authorization", f"Bearer {W.AUTH_USER}:{W.AUTH_PASSWORD}".encode())

    def __init__(self, port: int):
        self.client = fl.connect(f"grpc://127.0.0.1:{port}")

    def send(self, req: W.Req, res: Result, batch: pa.Table | None = None) -> None:
        headers = [(RID_HEADER.encode(), req.rid.encode())] + ([self.AUTH] if req.user else [])
        opts = fl.FlightCallOptions(headers=headers, timeout=170)
        try:
            if req.kind == "list_flights":
                infos = list(self.client.list_flights(b"", opts))
                res.table = [
                    i.descriptor.command.decode() if i.descriptor.descriptor_type == fl.DescriptorType.CMD
                    else i.descriptor.path[0].decode() for i in infos
                ]
                res.rows = len(infos)
            elif req.kind == "info_get":
                info = self.client.get_flight_info(fl.FlightDescriptor.for_path(req.path), opts)
                res.table = self.client.do_get(info.endpoints[0].ticket, opts).read_all()
            elif req.kind == "do_put":
                writer, _ = self.client.do_put(fl.FlightDescriptor.for_path(req.path), batch.schema, opts)
                writer.write_table(batch)
                writer.close()
            elif req.kind == "do_exchange":
                writer, reader = self.client.do_exchange(fl.FlightDescriptor.for_path(req.path), opts)
                writer.begin(batch.schema)
                writer.write_table(batch)
                writer.done_writing()
                ack = reader.read_all()
                writer.close()
                res.extra["ack"] = ack.column(0)[0].as_py()
            else:
                ticket = fl.Ticket(json.dumps({"query": req.sql}).encode())
                res.table = self.client.do_get(ticket, opts).read_all()
        except (pa.ArrowException, OSError) as ex:
            res.done, res.error = perf_counter(), f"{type(ex).__name__}: {str(ex)[:300]}"
            return
        res.done = perf_counter()
        res.ok = True
        if isinstance(res.table, pa.Table):
            res.nbytes, res.rows = res.table.nbytes, res.table.num_rows

    def action(self, kind: str, body: dict) -> None:
        list(self.client.do_action(fl.Action(kind, json.dumps(body).encode())))

    def close(self) -> None:
        self.client.close()


def connect(proto: str, port: int):
    return HttpConn(port) if proto == "http" else FlightConn(port)


# --- loops ------------------------------------------------------------------

def client_per_protocol(server: Server, reqs: list[W.Req], seconds: float,
                        sampler: RssSampler) -> list[Result]:
    """One closed-loop client per protocol, each on its own connection: it
    sends its protocol's next request when the previous one has completed,
    until `seconds` have passed or its requests run out."""
    results: list[Result] = []
    lock = threading.Lock()
    end = perf_counter() + seconds

    def run(proto: str) -> None:
        c = connect(proto, server.http_port if proto == "http" else server.flight_port)
        try:
            for r in reqs:
                if r.proto != proto:
                    continue
                if perf_counter() >= end:
                    return
                res = Result(r, sent=perf_counter())
                c.send(r, res)
                with lock:
                    results.append(res)
        finally:
            c.close()

    threads = [threading.Thread(target=run, args=(p,)) for p in ("http", "flight")]
    for t in threads:
        t.start()
    while any(t.is_alive() for t in threads):
        sampler.wait(0.05)
    for t in threads:
        t.join()
    return results


def closed_loop(server: Server, reqs: list[W.Req], seconds: float,
                sampler: RssSampler) -> list[Result]:
    """One client sends the next request when the previous one completes,
    until `seconds` have passed."""
    results: list[Result] = []
    conns = {"http": HttpConn(server.http_port), "flight": FlightConn(server.flight_port)}
    end = perf_counter() + seconds

    def run() -> None:
        for r in reqs:
            if perf_counter() >= end:
                return
            res = Result(r, sent=perf_counter())
            conns[r.proto].send(r, res)
            results.append(res)

    t = threading.Thread(target=run)
    t.start()
    while t.is_alive():
        sampler.wait(0.05)
    t.join()
    for c in conns.values():
        c.close()
    return results


def batch_table(seed: int, b: int) -> pa.Table:
    return pa.table(W.ingest_batch(seed, b),
                    schema=pa.schema([("id", pa.int64()), ("k", pa.string()), ("v", pa.float64())]))


def ingest_loop(server: Server, seed: int, table: str, seconds: float, sampler: RssSampler,
                writes: list[W.Req], tag: str) -> tuple[list[Result], list[Result], list[float]]:
    """One closed-loop writer rotating do_put / do_exchange / HTTP INSERT,
    and one Flight reader polling the table every INGEST_POLL_S, both until
    `seconds` have passed or the writer has run out of batches."""
    state = {"sent": 0, "acked": 0}
    writer_done = threading.Event()
    lock = threading.Lock()
    wres: list[Result] = []
    rres: list[Result] = []
    late: list[float] = []
    t_start = perf_counter()
    end = t_start + seconds
    http_c = HttpConn(server.http_port)
    flight_w = FlightConn(server.flight_port)
    flight_r = FlightConn(server.flight_port)

    def writer() -> None:
        try:
            write_all()
        finally:
            writer_done.set()

    def write_all() -> None:
        for r in writes:
            if perf_counter() >= end:
                return
            r.path = table
            tbl = batch_table(seed, r.batch)
            body = None
            if r.kind == "http_insert":
                body = "".join(json.dumps(row) + "\n" for row in tbl.to_pylist()).encode()
            with lock:
                state["sent"] += W.BATCH_ROWS
            res = Result(r, sent=perf_counter())
            if r.kind == "http_insert":
                http_c.send(r, res, body=body)
            else:
                flight_w.send(r, res, batch=tbl)
            wres.append(res)
            if res.ok:
                with lock:
                    state["acked"] += W.BATCH_ROWS
            else:
                return  # the table no longer holds a known prefix of batches

    def reader() -> None:
        polls = W.ingest_poll_sql(table)
        i = 0
        while True:
            due = t_start + i * W.INGEST_POLL_S
            if due >= end or writer_done.is_set():
                return
            now = perf_counter()
            if now < due:
                time.sleep(due - now)
                late.append(perf_counter() - due)
            for j, sql in enumerate(polls):
                with lock:
                    acked_before = state["acked"]
                req = W.Req(rid=f"{tag}r{i:05d}-{j}", kind="poll_count" if j == 0 else "poll_agg",
                            proto="flight", sql=sql)
                res = Result(req, sent=perf_counter())
                flight_r.send(req, res)
                with lock:
                    res.extra["acked_before"], res.extra["sent_after"] = acked_before, state["sent"]
                rres.append(res)
            i += 1

    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    while any(t.is_alive() for t in threads):
        sampler.wait(0.05)
    for t in threads:
        t.join()
    for c in (http_c, flight_w, flight_r):
        c.close()
    return wres, rres, late
