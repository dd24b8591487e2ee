"""ClickHouse-compatible result formats — SURVEY.md §2.1 S12-S16.

The reference renders DuckDB results into five ClickHouse HTTP formats
(converters at reference main.py:135-193, dispatch :233-246):

- JSONCompact  meta/data/rows/statistics envelope  (main.py:145-160)
- JSON         row-objects envelope                (main.py:163-181)
- JSONEachRow  NDJSON                              (main.py:135-142)
- TSV / CSV    header + rows                       (main.py:184-193)
- default      JSON array of row arrays            (main.py:243-246)

Spark-side: serializers over df.collect() + df.schema. Deliberate
deviations from reference bugs (SURVEY §7 "not to replicate"):
- CSV output IS quoted/escaped (reference does bare str() — main.py:191);
  TSV escapes tabs/newlines.
- Type names in meta are ClickHouse names mapped from Spark types (the
  reference leaks raw DuckDB names).

Serialization is a protocol concern: results at this point are final
(post-LIMIT / post-agg) and collected whole, bounded by Spark's
spark.driver.maxResultSize check. Flight's do_get collects with one
toArrow() too, and streams through toLocalIterator only when the result's
size estimate exceeds maxResultSize or is unknown, or when Spark aborts
the collection at maxResultSize (see flight_server.py).
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("JSONCompact", "JSON", "JSONEachRow", "TSV", "CSV")

_CH_TYPE = {
    T.StringType: "String",
    T.LongType: "Int64",
    T.IntegerType: "Int32",
    T.ShortType: "Int16",
    T.ByteType: "Int8",
    T.DoubleType: "Float64",
    T.FloatType: "Float32",
    T.BooleanType: "Bool",
    T.DateType: "Date",
    T.TimestampType: "DateTime64(6)",
    T.BinaryType: "String",
}


def ch_type_name(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"Array({ch_type_name(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"Map({ch_type_name(dt.keyType)}, {ch_type_name(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {ch_type_name(f.dataType)}" for f in dt.fields)
        return f"Tuple({inner})"
    return _CH_TYPE.get(type(dt), dt.simpleString())


def _cell(v: Any) -> Any:
    """JSON-safe cell value (ClickHouse renders non-finite floats as null)."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, dict):
        return {k: _cell(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if hasattr(v, "asDict"):  # Row (struct)
        return {k: _cell(x) for k, x in v.asDict().items()}
    return v


def _meta(df: DataFrame) -> list[dict[str, str]]:
    return [{"name": f.name, "type": ch_type_name(f.dataType)} for f in df.schema.fields]


def _stats(n_rows: int, elapsed: float, cells: list[list[Any]]) -> dict[str, Any]:
    # shape from reference main.py:154-158, incl. its bytes_read metric:
    # the total rendered-string length of every cell
    return {
        "elapsed": round(elapsed, 6),
        "rows_read": n_rows,
        "bytes_read": sum(len(str(v)) for row in cells for v in row),
    }


def format_result(df: DataFrame, fmt: str | None, elapsed: float = 0.0) -> tuple[bytes, str]:
    """Render a (final) DataFrame in a ClickHouse HTTP format.

    Returns (payload, content_type). fmt=None → the reference's default:
    JSON array of row arrays (main.py:243-246).
    """
    rows = df.collect()
    cols = df.columns
    fmt_norm = (fmt or "").lower()

    if fmt_norm == "jsoncompact":
        data = [[_cell(v) for v in row] for row in rows]
        body = {
            "meta": _meta(df),
            "data": data,
            "rows": len(rows),
            # reference main.py:153 — JSONCompact (and only JSONCompact)
            # carries rows_before_limit_at_least
            "rows_before_limit_at_least": len(rows),
            "statistics": _stats(len(rows), elapsed, data),
        }
        return json.dumps(body, ensure_ascii=False).encode(), "application/json"

    if fmt_norm == "json":
        data = [[_cell(v) for v in row] for row in rows]
        body = {
            "meta": _meta(df),
            "data": [dict(zip(cols, row)) for row in data],
            "rows": len(rows),
            "statistics": _stats(len(rows), elapsed, data),
        }
        return json.dumps(body, ensure_ascii=False).encode(), "application/json"

    if fmt_norm == "jsoneachrow":
        lines = [
            json.dumps({c: _cell(v) for c, v in zip(cols, row)}, ensure_ascii=False)
            for row in rows
        ]
        return ("\n".join(lines) + ("\n" if lines else "")).encode(), "application/x-ndjson"

    if fmt_norm in ("tsv", "tabseparated", "tsvwithnames"):
        def tsv_cell(v: Any) -> str:
            if v is None:
                return "\\N"
            s = str(_cell(v))
            return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

        lines = ["\t".join(cols)] + ["\t".join(tsv_cell(v) for v in row) for row in rows]
        return ("\n".join(lines) + "\n").encode(), "text/tab-separated-values"

    if fmt_norm == "csv":
        import csv
        import io

        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(cols)
        for row in rows:
            w.writerow(["" if v is None else _cell(v) for v in row])
        return buf.getvalue().encode(), "text/csv"

    # default: plain JSON list of row-lists (reference main.py:243-246)
    return (
        json.dumps([[_cell(v) for v in row] for row in rows], ensure_ascii=False).encode(),
        "application/json",
    )


def _register_format_key() -> None:
    """`fmt_jsoncompact` (SURVEY §2.1 S12): drive the real
    ClickHouse-JSONCompact serializer over a small deterministic query
    and surface the envelope as a 1-row DataFrame, value-oracled since
    r4; the envelope bytes are pinned in tests/test_serving.py."""
    from quackflight_spark.registry import query
    from quackflight_spark.sources.fixtures import load_table

    @query("fmt_jsoncompact", oracle="""
        WITH agg AS (
          SELECT r_name, CAST(count(*) AS BIGINT) AS cnt
          FROM nation JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name
        ), arr AS (
          SELECT CAST(to_json(list(json_array(r_name, cnt) ORDER BY r_name))
                      AS VARCHAR) AS data_json,
                 CAST(count(*) AS INT) AS n_rows
          FROM agg
        )
        SELECT 'application/json' AS content_type, 2 AS n_cols,
               CAST(n_rows AS BIGINT) AS n_rows, data_json
        FROM arr
    """)
    def fmt_jsoncompact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-BACKED since r4 (was rows-only): the envelope's data
        array re-serializes compactly on both sides — DuckDB builds the
        identical JSON text from the same aggregate, so the driver
        value-hashes the protocol path end-to-end (the full envelope's
        exact bytes are additionally pinned by the golden-bytes tests)."""
        n = load_table(spark, sf_dir, "nation")
        r = load_table(spark, sf_dir, "region")
        agg = (
            n.join(r, n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .count()
            .orderBy("r_name")
        )
        payload, content_type = format_result(agg, "jsoncompact", elapsed=0.0)
        body = json.loads(payload)
        return spark.createDataFrame(
            [(
                content_type,
                len(body["meta"]),
                body["rows"],
                json.dumps(body["data"], ensure_ascii=False,
                           separators=(",", ":")),
            )],
            "content_type string, n_cols int, n_rows long, data_json string",
        )


_register_format_key()
