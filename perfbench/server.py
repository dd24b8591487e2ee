"""Server process of the serving benchmark.

One Spark session at local[<cpus>] serves `create_app(...)` over a loopback
HTTP socket and `SparkFlightServer` over loopback gRPC. The session keeps the
program's own defaults; the only settings made here are deployment ones:
master, JVM heap size, warehouse, local and temp dirs (see spec.json;
SPARK_LOCAL_DIRS and TMPDIR come from the environment run.py sets).

Usage (started by run.py, one JSON config argument):

    python3 perfbench/server.py '{"cpus": 4, "heap": "3g", ...}'

When both servers listen it prints one line `@@ready {"http_port": ..}` on
stdout, then answers JSON commands read one per line from stdin, each with
one `@@reply {...}` line: `trace_on`, `trace_off` (writes the spans to
`path`) and `stop`.
"""

from __future__ import annotations

import json
import os
import sys
import threading

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _jvm_stats(spark) -> dict:
    """GC time and heap peak from the Spark JVM's management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap_peak += pool.getPeakUsage().getUsed()
    return {"gc_ms": gc_ms, "heap_peak_bytes": heap_peak}


def _reset_heap_peak(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def _reply(obj: dict) -> None:
    sys.stdout.write("@@reply " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def main(cfg: dict) -> None:
    from werkzeug.serving import WSGIRequestHandler, make_server

    from quackflight_spark.serving.flight_server import SparkFlightServer
    from quackflight_spark.serving.http_app import create_app
    from quackflight_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cfg['cpus']}]",
        extra_conf={
            "spark.driver.memory": cfg["heap"],
            "spark.sql.warehouse.dir": cfg["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp_dir']}",
        },
    )
    spark.sql("CREATE DATABASE tpch")
    for t in TPCH_TABLES:
        path = os.path.join(cfg["data_dir"], f"{t}.parquet")
        spark.sql(f"CREATE TABLE tpch.{t} USING parquet LOCATION '{path}'")

    app = create_app(spark)

    class Handler(WSGIRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive: one socket per client connection

        def log_request(self, *args, **kwargs):
            pass

    http = make_server("127.0.0.1", 0, app, threaded=True, request_handler=Handler)
    threading.Thread(target=http.serve_forever, daemon=True).start()
    flight = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    threading.Thread(target=flight.serve, daemon=True).start()

    tracer = None
    sys.stdout.write("@@ready " + json.dumps(
        {"http_port": http.server_port, "flight_port": flight.port}
    ) + "\n")
    sys.stdout.flush()
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd["op"]
            if op == "trace_on":
                from perfbench.tracer import Tracer

                _reset_heap_peak(spark)
                tracer = Tracer(spark, app, flight)
                tracer.install()
                _reply({"ok": True, "jvm": _jvm_stats(spark)})
            elif op == "trace_off":
                tracer.uninstall()
                tracer.dump(cmd["path"])
                _reply({"ok": True, "jvm": _jvm_stats(spark)})
                tracer = None
            elif op == "stop":
                break
    finally:
        http.shutdown()
        flight.shutdown()
        spark.stop()
        _reply({"ok": True})


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
