"""Span tracing for the benchmark's traced run, installed in the server
process around the public functions each serving layer calls.

Spans are kept in memory and written as JSON lines when tracing stops.
A span records name, start, end (perf_counter seconds), parent span id
and request id; the request id arrives in the `x-perfbench-rid` header on
both protocols. Aggregate spans add `busy`: the summed time of many short
calls (row fetches, stream steps) whose intervals interleave with other
work, so only their total is meaningful.

Names imported by value are patched where they are looked up: http_app
imports sanitize_query, split_statements, transpile and format_result by
name, and flight_server imports run_script by name. do_get returns its
GeneratorStream before any row is fetched, so its span ends when the
stream is exhausted, not at return.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
from time import perf_counter

RID_HEADER = "x-perfbench-rid"


class _TimedLock:
    """Stands in for the Flight server's ingest lock; times acquisition."""

    def __init__(self, lock, tracer: "Tracer"):
        self._lock, self._tracer = lock, tracer

    def __enter__(self):
        with self._tracer.span("ingest.lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()


class _FlightModule:
    """flight_server's view of pyarrow.flight with GeneratorStream traced."""

    def __init__(self, real, tracer: "Tracer"):
        self._real, self._tracer = real, tracer

    def __getattr__(self, name):
        return getattr(self._real, name)

    def GeneratorStream(self, schema, gen):  # noqa: N802 — mirrors pyarrow.flight
        return self._real.GeneratorStream(schema, self._tracer.stream(gen))


class Tracer:
    def __init__(self, spark, app, flight_server):
        self.spark, self.app, self.flight_server = spark, app, flight_server
        self.spans: list[dict] = []
        self.counters = {"cache.probes": 0, "cache.hits": 0, "cache.bytes_held": 0,
                         "formats.bytes_out": 0, "flight_server.batches": 0}
        self.sessions: dict[int, int] = {}
        self.engine_totals: dict = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._open_streams: dict[int, dict] = {}
        self._count_lock = threading.Lock()

    # --- span bookkeeping ---------------------------------------------------
    def _stack(self) -> list[tuple[int, str | None]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _top(self) -> tuple[int | None, str | None]:
        st = self._stack()
        return st[-1] if st else (None, None)

    def span(self, name: str, rid: str | None = None):
        return _Span(self, name, rid)

    def count(self, name: str, n: int) -> None:
        with self._count_lock:
            self.counters[name] += n

    def record(self, **rec) -> None:
        self.spans.append(rec)  # list.append is atomic under the GIL

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    def _patch(self, obj, attr: str, value) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    # --- streams ------------------------------------------------------------
    def stream(self, gen):
        """Wrap do_get's batch generator: its span (an aggregate of the time
        spent producing batches) ends at the last batch, and so does the
        enclosing do_get span. Time suspended between batches is the Flight
        layer serialising and writing them: recorded as flight_server.write."""
        parent, rid = self._top()  # taken inside do_get, before any batch
        return self._stream(gen, parent, rid, self._open_streams.pop(parent, None))

    def _stream(self, gen, parent, rid, do_get):
        sid = next(self._ids)
        busy = suspended = 0.0
        batches = 0
        t_first = t_last = perf_counter()
        try:
            while True:
                t0 = perf_counter()
                if batches:
                    suspended += t0 - t_last
                self._stack().append((sid, rid))
                try:
                    b = next(gen)
                except StopIteration:
                    return
                finally:
                    self._stack().pop()
                    t_last = perf_counter()
                    busy += t_last - t0
                batches += 1
                yield b
        finally:
            end = perf_counter()
            self.count("flight_server.batches", batches)
            self.record(id=sid, name="flight_server.stream", start=t_first, end=end,
                        parent=parent, rid=rid, busy=busy, batches=batches)
            self.record(id=next(self._ids), name="flight_server.write", start=t_first, end=end,
                        parent=parent, rid=rid, busy=suspended)
            if do_get is not None:
                do_get["end"] = end
                self.record(**do_get)

    def fetching(self, make_iterator):
        """Row fetch through toLocalIterator: the call (which starts the
        first job) plus every next(), as one aggregate span."""
        parent, rid = self._top()
        t_first = perf_counter()
        it = make_iterator()
        return self._fetching(it, parent, rid, t_first, perf_counter() - t_first)

    def _fetching(self, it, parent, rid, t_first, busy):
        rows = 0
        try:
            while True:
                t0 = perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    busy += perf_counter() - t0
                    return
                busy += perf_counter() - t0
                rows += 1
                yield row
        finally:
            self.record(id=next(self._ids), name="engine.fetch", start=t_first, end=perf_counter(),
                        parent=parent, rid=rid, busy=busy, rows=rows)

    # --- install / uninstall -----------------------------------------------
    def install(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame  # overrides collect & co.

        from quackflight_spark.serving import flight_server as fs
        from quackflight_spark.serving import http_app
        from quackflight_spark.serving.cache import QueryCache
        from quackflight_spark.serving.namespaces import SessionManager

        tracer = self
        for attr, name in (("sanitize_query", "dialect.sanitize_query"),
                           ("split_statements", "dialect.split_statements"),
                           ("transpile", "dialect.transpile"),
                           ("execute_query", "http_app.execute_query"),
                           ("insert_ndjson", "ingest.insert_ndjson")):
            self._patch(http_app, attr, self._wrap(getattr(http_app, attr), name))

        real_format = http_app.format_result

        @functools.wraps(real_format)
        def format_result(*a, **kw):
            with tracer.span("formats.format_result"):
                payload, ctype = real_format(*a, **kw)
            tracer.count("formats.bytes_out", len(payload))
            return payload, ctype

        self._patch(http_app, "format_result", format_result)
        self._patch(fs, "run_script", self._wrap(fs.run_script, "dialect.run_script"))
        self._patch(fs, "flight", _FlightModule(fs.flight, self))

        # HTTP root span: the WSGI call, request id from the header
        real_wsgi = self.app.wsgi_app

        def wsgi_app(environ, start_response):
            with tracer.span("http_app.handler", environ.get("HTTP_X_PERFBENCH_RID")):
                return real_wsgi(environ, start_response)

        self._patch(self.app, "wsgi_app", wsgi_app)

        # Flight root spans
        srv_cls = type(self.flight_server)

        def rid_of(context):
            mw = context.get_middleware("headers") if context is not None else None
            return mw.headers.get(RID_HEADER) if mw is not None else None

        def root(name, fn):
            @functools.wraps(fn)
            def traced(srv, context, *a):
                with tracer.span(name, rid_of(context)):
                    return fn(srv, context, *a)
            return traced

        for meth in ("get_flight_info", "do_put", "do_exchange"):
            self._patch(srv_cls, meth, root(f"flight_server.{meth}", getattr(srv_cls, meth)))

        real_list = srv_cls.list_flights

        def list_flights(srv, context, criteria):
            with tracer.span("flight_server.list_flights", rid_of(context)):
                yield from real_list(srv, context, criteria)

        self._patch(srv_cls, "list_flights", list_flights)

        real_do_get = srv_cls.do_get

        def do_get(srv, context, ticket):
            rid = rid_of(context)
            sid = next(tracer._ids)
            parent, _ = tracer._top()
            rec = dict(id=sid, name="flight_server.do_get", start=perf_counter(), end=None,
                       parent=parent, rid=rid)
            tracer._open_streams[sid] = rec
            tracer._stack().append((sid, rid))
            try:
                return real_do_get(srv, context, ticket)
            finally:
                tracer._stack().pop()
                if tracer._open_streams.pop(sid, None) is not None:  # no stream made
                    rec["end"] = perf_counter()
                    tracer.record(**rec)

        self._patch(srv_cls, "do_get", do_get)
        self._patch(srv_cls, "_append_table",
                    self._wrap(srv_cls._append_table, "ingest.append_table"))
        self._patch(self.flight_server, "_lock", _TimedLock(self.flight_server._lock, self))

        # cache
        real_get, real_put = QueryCache.get, QueryCache.put

        def cache_get(cache, query_id):
            with tracer.span("cache.get"):
                hit = real_get(cache, query_id)
            tracer.count("cache.probes", 1)
            tracer.count("cache.hits", hit is not None)
            return hit

        def cache_put(cache, query_id, payload, content_type):
            with tracer.span("cache.put"):
                real_put(cache, query_id, payload, content_type)
            held = sum(len(p) for p, _ in list(cache._d.values()))
            with tracer._count_lock:
                tracer.counters["cache.bytes_held"] = max(tracer.counters["cache.bytes_held"], held)

        self._patch(QueryCache, "get", cache_get)
        self._patch(QueryCache, "put", cache_put)

        # namespaces
        real_ns = SessionManager.for_namespace

        def for_namespace(mgr, namespace):
            with tracer.span("namespaces.lookup"):
                s = real_ns(mgr, namespace)
            tracer.sessions[id(mgr)] = len(mgr._sessions)
            return s

        self._patch(SessionManager, "for_namespace", for_namespace)

        # engine
        self._patch(SparkSession, "sql", self._wrap(SparkSession.sql, "engine.analyze"))
        self._patch(DataFrame, "collect", self._wrap(DataFrame.collect, "engine.collect"))
        self._patch(DataFrame, "toArrow", self._wrap(DataFrame.toArrow, "engine.to_arrow"))
        real_tli = DataFrame.toLocalIterator

        def to_local_iterator(df, *a, **kw):
            return tracer.fetching(lambda: real_tli(df, *a, **kw))

        self._patch(DataFrame, "toLocalIterator", to_local_iterator)
        self._patch(DataFrameWriter, "insertInto",
                    self._wrap(DataFrameWriter.insertInto, "ingest.write"))
        self._engine_start = self._engine_marks()

    def uninstall(self) -> None:
        for obj, attr, original in reversed(self._patches):
            setattr(obj, attr, original)
        self._patches.clear()
        self.engine_totals = self._engine_since(self._engine_start)

    # --- engine totals from Spark's status store ----------------------------
    def _engine_marks(self) -> tuple[int, int]:
        ds = self.spark.sparkContext._jsc.sc().dagScheduler()
        return ds.nextJobId(), ds.nextStageId()

    def _engine_since(self, start: tuple[int, int]) -> dict:
        sc = self.spark.sparkContext
        jobs_end, stages_end = self._engine_marks()
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        tot = {"jobs": jobs_end - start[0], "stages": 0, "tasks": 0, "executor_run_ms": 0,
               "executor_cpu_ms": 0.0, "shuffle_bytes": 0, "input_bytes": 0}
        for sid in range(start[1], stages_end):
            attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["executor_run_ms"] += st.executorRunTime()
                tot["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                tot["shuffle_bytes"] += st.shuffleWriteBytes()
                tot["input_bytes"] += st.inputBytes()
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counters": self.counters,
                                "namespaces.sessions": sum(self.sessions.values()),
                                "engine": self.engine_totals}) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "rid", "sid", "parent", "t0")

    def __init__(self, tracer: Tracer, name: str, rid: str | None):
        self.tracer, self.name, self.rid = tracer, name, rid

    def __enter__(self):
        parent, prid = self.tracer._top()
        self.parent, self.rid = parent, self.rid or prid
        self.sid = next(self.tracer._ids)
        self.tracer._stack().append((self.sid, self.rid))
        self.t0 = perf_counter()
        return self

    def __exit__(self, *exc):
        end = perf_counter()
        self.tracer._stack().pop()
        self.tracer.record(id=self.sid, name=self.name, start=self.t0, end=end,
                           parent=self.parent, rid=self.rid)
