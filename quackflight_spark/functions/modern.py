"""Modern-SQL surface: VARIANT semi-structured access, sketch-backed
approximate top-k heavy hitters, mode/median aggregates, and a Python
UDTF table function.

The reference's extensibility story is "load a DuckDB extension and get
its SQL surface" (reference main.py:83-86; SURVEY.md §2.8/§2.10). The
Spark-native equivalents exercised here:

- VARIANT (`parse_json`/`variant_get`) is Spark 4's answer to DuckDB's
  JSON type: a binary-encoded semi-structured value with typed path
  extraction that stays columnar end-to-end — at 100 TB this beats
  re-parsing JSON strings per access and shreds into Parquet.
- `approx_top_k` is a sketch aggregate (bounded memory per partition,
  mergeable across partitions) — the scale-path for heavy hitters where
  an exact groupBy+sort would shuffle every distinct key. With
  maxItemsTracked >= NDV it is exact, which is what the oracle checks.
- Python UDTFs are Spark's lateral table functions (SURVEY.md §2.10c):
  one UDTF row-expansion per input row, Arrow-batched. The UDTF here is
  deliberately trivial (word split with ordinality) so the oracle can
  express it; the machinery (registration, LATERAL join, schema) is the
  deliverable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quackflight_spark.registry import query
from quackflight_spark.sources.fixtures import load_table


@query("fn_variant", oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS STRING) AS k_str,
           coalesce(CAST(json_extract_string(props, '$.missing') AS INT), -1)
               AS absent,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    WHERE event_id % 7 = 0
""")
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4 VARIANT.

    `parse_json` decodes the JSON string ONCE into the binary variant
    encoding; every `variant_get` after that is a typed path lookup on
    the decoded value (no re-parse), all inside codegen. The DuckDB
    oracle expresses the same accesses over its JSON type. The missing
    path goes through coalesce(-1): it still proves path-miss => NULL
    (the -1 is visible in every row), without emitting an all-NULL int
    column, which pandas types differently per engine (object None vs
    float64 NaN) and would hash-split in the driver's canonicalizer.
    """
    ev = load_table(spark, sf_dir, "events").where("event_id % 7 = 0")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.coalesce(
            F.variant_get(v, "$.missing", "int"), F.lit(-1)
        ).alias("absent"),
        F.variant_get(v, "$.k", "int").isNotNull().alias("has_k"),
    )


@query("agg_approx_topk", oracle="""
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est
    FROM events
    GROUP BY event_type
    ORDER BY est DESC, item
    LIMIT 3
""")
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch aggregate.

    Each partition tracks a bounded item->count summary; partial
    summaries merge on the driver side of a single shuffle — memory is
    O(maxItemsTracked) per task regardless of input rows, the shape that
    survives 100 TB where exact top-k over a high-NDV column would
    shuffle every key. maxItemsTracked (10000) far exceeds the fixture
    NDV (5), so counts are exact and oracle-comparable; the fixtures
    have no count ties in the top 3 at any SF (verified 0.001/0.01/0.1).
    """
    ev = load_table(spark, sf_dir, "events")
    topk = ev.agg(F.expr("approx_top_k(event_type, 3, 10000)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("est"),
        )
    )


@query("agg_mode_median", oracle="""
    SELECT l_returnflag,
           mode(l_linenumber) AS mode_line,
           median(l_quantity) AS median_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
""")
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode()/median() grouped aggregates (Spark >=3.4 built-ins).

    median is an exact single-pass sort-based aggregate; mode keeps a
    per-group value->count map. Both are Catalyst-native (no Python).
    The fixture's (returnflag, linenumber) count distribution has a
    strictly unique argmax per group at every SF (verified), so mode is
    deterministic and oracle-comparable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.mode("l_linenumber").alias("mode_line"),
        F.median("l_quantity").alias("median_qty"),
        F.count("*").alias("n"),
    )


def ensure_udtfs(spark: SparkSession) -> None:
    """Idempotently register the Python UDTF surface on this session.

    Mirrors ensure_chsql_functions: the driver's correctness gate builds
    its own SparkSession, so registration must happen at call time, not
    only in session.py (the r2 fn_cast_ch lesson).
    """
    if getattr(spark, "_qf_udtfs_registered", False):
        return
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string", useArrow=True)
    class SplitWords:
        """Word-split with ordinality — one output row per word."""

        def eval(self, text):  # noqa: ANN001 - UDTF protocol signature
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                if w:
                    yield i + 1, w

    spark.udtf.register("split_words", SplitWords)
    spark._qf_udtfs_registered = True


@query("fn_udtf_split", oracle="""
    SELECT doc_id,
           generate_subscripts(words, 1) AS pos,
           unnest(words) AS word
    FROM (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents
        WHERE doc_id % 25 = 0
    )
""")
def fn_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL Python UDTF: expand each document into (pos, word) rows.

    The UDTF runs Arrow-batched in the Python worker, one lateral
    expansion per input row; the surrounding plan (scan filter, lateral
    join) stays in the JVM. The fixture filter keeps the oracle cheap;
    the plan shape is row-count-independent. Words are split on single
    spaces and empties dropped, matching DuckDB string_split semantics
    on the fixture's single-spaced text.
    """
    ensure_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents").where("doc_id % 25 = 0")
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.word
        FROM _udtf_docs d, LATERAL split_words(d.text) s
        """
    )


@query("agg_listagg", oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
               AS statuses,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
""")
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's ANSI `LISTAGG ... WITHIN
    GROUP (ORDER BY ...)` vs DuckDB's ordered `string_agg`. DISTINCT +
    explicit ORDER BY make the concatenation deterministic across
    engines and partitionings (an unordered string_agg is not a valid
    distributed aggregate — order depends on merge order)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_listagg_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, '|')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               count(*) AS n
        FROM _listagg_orders
        GROUP BY o_orderpriority
        """
    )


@query("fn_bitwise", oracle="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber & 5 AS band,
           l_linenumber | 9 AS bor,
           xor(l_linenumber, 3) AS bxor,
           l_linenumber << 2 AS shl,
           l_linenumber >> 1 AS shr,
           CAST(bit_count(l_linenumber) AS INT) AS bc,
           ~l_linenumber AS bnot
    FROM lineitem
    WHERE l_orderkey % 11 = 0
""")
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family (&, |, xor, shifts, bit_count, ~) — all
    codegen'd integer expressions; dialect note: DuckDB spells xor as a
    function and Spark as the ^ operator."""
    li = load_table(spark, sf_dir, "lineitem").where("l_orderkey % 11 = 0")
    ln = F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ln.bitwiseAND(F.lit(5)).alias("band"),
        ln.bitwiseOR(F.lit(9)).alias("bor"),
        ln.bitwiseXOR(F.lit(3)).alias("bxor"),
        F.shiftleft(ln, 2).alias("shl"),
        F.shiftright(ln, 1).alias("shr"),
        F.bit_count(ln).alias("bc"),
        F.expr("~l_linenumber").alias("bnot"),
    )


@query("agg_regression", oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
""")
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: corr / covar / regr_* (ANSI
    bivariate aggregates, Spark >=3.4 built-ins). All are single-pass
    mergeable moment accumulators (sum, sum², cross-product per
    partition, merged exactly once) — the distributed-safe formulation;
    outputs rounded to the stable digit range so the cross-engine
    compare is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_regr_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
               round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
               round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        FROM _regr_lineitem
        GROUP BY l_returnflag
        """
    )


TIME_BUCKET_ORIGIN = "2024-01-01 00:15:00"  # deliberately off-hour anchor
TIME_BUCKET_SEC = 5400  # 90-minute buckets


@query("fn_time_bucket", oracle=f"""
    SELECT time_bucket(INTERVAL '90 minutes', CAST(ts AS TIMESTAMP),
                       TIMESTAMP '{TIME_BUCKET_ORIGIN}') AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
""")
def fn_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-width, arbitrary-origin time bucketing (the hypertable
    `time_bucket` generalization of date_trunc): bucket = origin +
    floor((ts - origin) / width) * width, all integer epoch arithmetic
    inside codegen. The off-hour origin proves the anchor is honored —
    date_trunc can't express it."""
    ev = load_table(spark, sf_dir, "events")
    origin = F.lit(TIME_BUCKET_ORIGIN).cast("timestamp")
    delta = F.unix_timestamp("ts") - F.unix_timestamp(origin)
    bucket = F.timestamp_seconds(
        F.unix_timestamp(origin)
        + F.floor(delta / TIME_BUCKET_SEC) * TIME_BUCKET_SEC
    )
    return ev.groupBy(
        bucket.alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@query("fn_hashing", oracle="""
    SELECT p_partkey,
           md5(p_name) AS h_md5,
           sha256(p_brand) AS h_sha256,
           md5(concat(p_name, '|', p_type)) AS h_compound
    FROM part
    WHERE p_partkey % 9 = 0
""")
def fn_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash functions (md5 / sha2-256) — the
    cross-engine-stable content-hash primitives every dedup/fingerprint
    operator in pipeline/ builds on (engine-internal hash() functions
    deliberately never appear in oracle-checked output)."""
    p = load_table(spark, sf_dir, "part").where("p_partkey % 9 = 0")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("h_md5"),
        F.sha2("p_brand", 256).alias("h_sha256"),
        F.md5(F.concat_ws("|", "p_name", "p_type")).alias("h_compound"),
    )


HIST_LO, HIST_HI, HIST_N = 0.0, 600000.0, 12


@query("agg_histogram", oracle=f"""
    SELECT CAST(least(greatest(floor((o_totalprice - {HIST_LO})
                 / (({HIST_HI} - {HIST_LO}) / {HIST_N})) + 1, 0), {HIST_N} + 1)
               AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
""")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket: one map-side-combinable
    groupBy over the bucket id — the shuffle carries |buckets| rows per
    task, never the data. The DuckDB oracle spells out width_bucket's
    exact boundary arithmetic (floor((x-lo)/w)+1, clamped), which is
    bit-deterministic here because the bucket width is an exact binary
    double."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket(
                "o_totalprice", F.lit(HIST_LO), F.lit(HIST_HI), F.lit(HIST_N)
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("lo"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("hi"),
        )
    )


@query("agg_grouping_id", oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
           CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
""")
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() over GROUPING SETS — the disambiguation
    functions that tell a NULL group key ("this row aggregates over all
    statuses") apart from a NULL data value. Same Expand-based plan as
    agg_grouping_sets; the flags are computed from the expansion mask,
    zero extra passes."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gid_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
               CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT)
                   AS gid
        FROM _gid_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """
    )


@query("fn_edit_distance", oracle="""
    WITH p AS (SELECT p_partkey, p_name, p_brand FROM part
               WHERE p_partkey % 17 = 0)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev_name,
           CAST(levenshtein(a.p_brand, b.p_brand) AS INT) AS lev_brand
    FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 17
""")
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance over successive part pairs — the
    fuzzy-matching primitive (entity resolution, typo-tolerant joins).
    At scale an edit-distance join is always blocked first (length
    bucket, q-gram index — the dedup_ngram_jaccard shape); the scalar
    itself is codegen-native in both engines."""
    p = (
        load_table(spark, sf_dir, "part")
        .where("p_partkey % 17 = 0")
        .select("p_partkey", "p_name", "p_brand")
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand_b"),
    )
    return (
        a.join(b, F.col("key_b") == F.col("key_a") + 17)
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("lev_name"),
            F.levenshtein("brand_a", "brand_b").alias("lev_brand"),
        )
    )


@query("agg_weighted_median", oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    cum AS (
      SELECT flag, v, w,
             sum(w) OVER (PARTITION BY flag ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM pts
    )
    SELECT flag, CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(v) AS DOUBLE) AS weighted_median
    FROM cum WHERE 2 * cw >= tw GROUP BY flag
""")
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median (new r6) — the order statistic every
    fairness/pricing rollup needs when rows carry multiplicities:
    median extended price weighted by quantity, per return flag. The
    lower weighted median = the smallest value v whose cumulative
    weight reaches half the total.

    Exactness: weights are BIGINTs, values DECIMAL(12,2), and the
    cumulative window uses a RANGE frame — all rows TIED on v
    accumulate atomically, so cw at v is 'total weight ≤ v' regardless
    of physical row order within ties; the threshold pick min(v | 2cw ≥
    tw) is therefore partition-order-independent and bit-identical in
    both engines (a ROWS frame here would make cw at a tied row depend
    on shuffle order — the classic nondeterminism trap).

    Scale shape: one exchange on the group key, one sort carrying both
    windows, one filtered min-agg on top. Weighted quantiles at 100 TB
    want the same plan with the filter threshold parameterized."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("flag")
        .orderBy("v")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = pts.select(
        "flag",
        "v",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(W.partitionBy("flag")).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            F.min("v").cast("double").alias("weighted_median"),
        )
    )


@query("agg_skew_kurtosis", oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c
      FROM lineitem
    ),
    s AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1
      FROM pts GROUP BY flag
    ),
    m AS (
      SELECT p.flag, s.n, s.s1 % s.n AS r,
             sum(CAST((p.c - s.s1 // s.n) AS DECIMAL(38,0))
                 * (p.c - s.s1 // s.n)) AS a2,
             sum(CAST((p.c - s.s1 // s.n) AS DECIMAL(38,0))
                 * (p.c - s.s1 // s.n) * (p.c - s.s1 // s.n)) AS a3,
             sum(CAST((p.c - s.s1 // s.n) AS DECIMAL(38,0))
                 * (p.c - s.s1 // s.n) * (p.c - s.s1 // s.n)
                 * (p.c - s.s1 // s.n)) AS a4
      FROM pts p JOIN s ON p.flag = s.flag
      GROUP BY p.flag, s.n, s.s1
    ),
    d AS (
      SELECT flag, n, CAST(n AS DOUBLE) AS nd,
             CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS dd,
             CAST(a2 AS DOUBLE) AS a2d, CAST(a3 AS DOUBLE) AS a3d,
             CAST(a4 AS DOUBLE) AS a4d
      FROM m
    )
    SELECT flag, n,
           round(((a3d - 3.0 * dd * a2d + 2.0 * nd * dd * dd * dd) / nd)
                 / (((a2d - nd * dd * dd) / nd)
                    * sqrt((a2d - nd * dd * dd) / nd)), 8) AS skewness,
           round(((a4d - 4.0 * dd * a3d + 6.0 * dd * dd * a2d
                   - 3.0 * nd * dd * dd * dd * dd) / nd)
                 / (((a2d - nd * dd * dd) / nd)
                    * ((a2d - nd * dd * dd) / nd)), 8) AS kurtosis
    FROM d
""")
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness per group (new r6) WITHOUT the float-
    summation-order trap that makes built-in skewness() unverifiable
    across engines. Recipe: center on the integer FLOOR MEAN c0 = S÷n
    (so per-row deviations are exact BIGINTs ≤ the value range, never
    n-scaled), accumulate A2 = Σ(x−c0)² and A3 = Σ(x−c0)³ as exact
    DECIMAL(38,0) sums — order-independent — then shift to the true
    mean in ONE deterministic double expression using the exact
    remainder r = S mod n (d = r/n < 1 cent): M2 = (A2 − n·d²)/n,
    M3 = (A3 − 3dA2 + 2nd³)/n, g1 = M3/M2^1.5 with M2^1.5 = M2·√M2
    (sqrt is IEEE-correctly-rounded; no pow, no libm), and population
    kurtosis g2 = M4/M2² the same way (M4 = (A4 − 4dA3 + 6d²A2 −
    3nd⁴)/n). Identical exact integers through identical double ops →
    bit-identical engines.

    Headroom (the reason for floor-mean centering, not the n·x − S
    form): deviations stay at value scale (~1e7 cents), so A4 ≤
    n·dev⁴ ≈ 1e37 even at 10⁹ rows/group — inside DECIMAL(38); the
    n-scaled form overflows 38 digits at sf0.1 already.

    Scale shape: one stats agg + one broadcast join back + one moment
    agg, all map-side-combinable — two passes; the one-pass streaming
    moment update trades this exactness for a pass, the wrong trade
    when cross-engine verification is the point."""
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    s = pts.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
    )
    dev = F.col("c") - F.expr("s1 DIV n")
    m = (
        pts.join(F.broadcast(s), "flag")
        .groupBy("flag", "n", "s1")
        .agg(
            F.sum(dev.cast("decimal(38,0)") * dev).alias("a2"),
            F.sum(dev.cast("decimal(38,0)") * dev * dev).alias("a3"),
            F.sum(dev.cast("decimal(38,0)") * dev * dev * dev).alias("a4"),
        )
        .select("flag", "n", F.expr("s1 % n").alias("r"), "a2", "a3", "a4")
    )
    nd = F.col("n").cast("double")
    d = F.col("r").cast("double") / nd
    a2d = F.col("a2").cast("double")
    a3d = F.col("a3").cast("double")
    a4d = F.col("a4").cast("double")
    m2 = (a2d - nd * d * d) / nd
    m3 = (a3d - F.lit(3.0) * d * a2d + F.lit(2.0) * nd * d * d * d) / nd
    m4 = (
        a4d
        - F.lit(4.0) * d * a3d
        + F.lit(6.0) * d * d * a2d
        - F.lit(3.0) * nd * d * d * d * d
    ) / nd
    return m.select(
        "flag",
        "n",
        F.round(m3 / (m2 * F.sqrt(m2)), 8).alias("skewness"),
        F.round(m4 / (m2 * m2), 8).alias("kurtosis"),
    )


@query("agg_gini", oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS c,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    ranked AS (
      SELECT flag, c,
             CAST(row_number() OVER (PARTITION BY flag
               ORDER BY c, l_orderkey, l_linenumber) AS BIGINT) AS i
      FROM pts
    ),
    s AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sx,
             sum(CAST(i AS DECIMAL(38,0)) * c) AS six
      FROM ranked GROUP BY flag
    )
    SELECT flag, n,
           round(2.0 * CAST(six AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 8) AS gini
    FROM s
""")
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient per group (new r6) — the concentration /
    inequality measure behind revenue-concentration, whale-user and
    data-source-balance dashboards: G = 2·Σ(i·x₍ᵢ₎)/(n·Σx) − (n+1)/n
    over the ascending-sorted values.

    Exactness: values are integer cents, ranks are exact row_numbers
    (ties ordered by the unique line key — and Σi·x is tie-order
    invariant anyway since equal x make i·x sum to x·Σi), the rank-
    weighted sum is an exact DECIMAL(38,0) (headroom: i·x ≤ 10⁹·10⁷ =
    10¹⁶ per row, 10²⁵ summed at 10⁹ rows/group), and G is one shared
    double expression over the three exact aggregates.

    Scale shape: one exchange on the group key, one per-group sort
    (the window), one map-side-combinable aggregate. The sort is
    inherent — Gini is an ORDER statistic functional; the
    approximation that avoids it (binned Lorenz curve) is the same
    rollup trick as events_time_to_convert if ever needed."""
    from pyspark.sql import Window as W

    pts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("c"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = pts.withColumn(
        "i",
        F.row_number()
        .over(
            W.partitionBy("flag").orderBy("c", "l_orderkey", "l_linenumber")
        )
        .cast("bigint"),
    )
    s = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("c")).alias("six"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "flag",
        "n",
        F.round(
            F.lit(2.0) * F.col("six").cast("double") / (nd * F.col("sx").cast("double"))
            - (nd + F.lit(1.0)) / nd,
            8,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# agg_corr_matrix — pairwise Pearson correlation matrix in one pass (r9)
# ---------------------------------------------------------------------------

CORR_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(CORR_MEASURES)
    for b in CORR_MEASURES[i + 1:]
]


def _corr_pair_sql(a: str, b: str) -> str:
    ax, bx = a[2:], b[2:]  # strip 'l_' for the moment-column names
    return f"""
      SELECT '{a}' AS var_x, '{b}' AS var_y, n,
             round(CAST(CAST(n AS DECIMAL(18,0)) * sxy_{ax}_{bx}
                        - sx_{ax} * sx_{bx} AS DOUBLE)
                   / sqrt(CAST(CAST(n AS DECIMAL(18,0)) * sxx_{ax}
                               - sx_{ax} * sx_{ax} AS DOUBLE)
                          * CAST(CAST(n AS DECIMAL(18,0)) * sxx_{bx}
                                 - sx_{bx} * sx_{bx} AS DOUBLE)), 8) AS corr
      FROM m"""


_CORR_MOMENTS_SQL = ", ".join(
    [
        "CAST(count(*) AS BIGINT) AS n",
        *[
            f"CAST(sum(c_{m[2:]}) AS DECIMAL(38,0)) AS sx_{m[2:]}"
            for m in CORR_MEASURES
        ],
        *[
            f"CAST(sum(CAST(c_{m[2:]} AS DECIMAL(38,0)) * c_{m[2:]}) "
            f"AS DECIMAL(38,0)) AS sxx_{m[2:]}"
            for m in CORR_MEASURES
        ],
        *[
            f"CAST(sum(CAST(c_{a[2:]} AS DECIMAL(38,0)) * c_{b[2:]}) "
            f"AS DECIMAL(38,0)) AS sxy_{a[2:]}_{b[2:]}"
            for a, b in CORR_PAIRS
        ],
    ]
)


@query("agg_corr_matrix", oracle=f"""
    WITH cents AS (
      SELECT {", ".join(
        f"CAST(CAST({m} AS DECIMAL(18,2)) * 100 AS BIGINT) AS c_{m[2:]}"
        for m in CORR_MEASURES)}
      FROM lineitem
    ),
    m AS (SELECT {_CORR_MOMENTS_SQL} FROM cents)
    {" UNION ALL ".join(_corr_pair_sql(a, b) for a, b in CORR_PAIRS)}
""")
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures, all six pairs from ONE scan (new r9) — the feature-
    screening primitive (collinearity checks, feature selection) that
    naive per-pair corr() calls would pay six scans for. The single
    aggregate computes every first/second moment (n, Σx, Σx², Σxy for
    each pair) map-side-combinably; the 6-row matrix then unpivots from
    that one-row moment table.

    Exactness: measures are cents-quantized to exact BIGINTs (the
    events_mannwhitney device), all moments are exact DECIMAL(38,0)
    sums, and each correlation is ONE shared double expression
    (n·Σxy − ΣxΣy)/√((n·Σx²−Σx²ᵗ)(n·Σy²−Σy²ᵗ)) whose numerator and
    variance terms are computed as exact DECIMAL differences BEFORE the
    single cast to double — no cancellation, no accumulation order
    dependence, bit-identical across engines and partitionings.

    Scale shape: one map-side-combinable full-scan aggregate to a
    single row (15 exact sums), then constant work. The measure count
    k costs k(k+1)/2 sum columns in the same pass — quadratic in k,
    linear in data, zero extra shuffles."""
    cents = load_table(spark, sf_dir, "lineitem").select(
        *[
            (F.col(m).cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias(f"c_{m[2:]}")
            for m in CORR_MEASURES
        ]
    )
    moments = cents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(f"c_{m[2:]}").cast("decimal(38,0)").alias(f"sx_{m[2:]}")
            for m in CORR_MEASURES
        ],
        *[
            F.sum(
                F.col(f"c_{m[2:]}").cast("decimal(38,0)") * F.col(f"c_{m[2:]}")
            )
            .cast("decimal(38,0)")
            .alias(f"sxx_{m[2:]}")
            for m in CORR_MEASURES
        ],
        *[
            F.sum(
                F.col(f"c_{a[2:]}").cast("decimal(38,0)") * F.col(f"c_{b[2:]}")
            )
            .cast("decimal(38,0)")
            .alias(f"sxy_{a[2:]}_{b[2:]}")
            for a, b in CORR_PAIRS
        ],
    )
    n_dec = F.col("n").cast("decimal(18,0)")

    def pair_struct(a: str, b: str):
        ax, bx = a[2:], b[2:]
        cov = (
            n_dec * F.col(f"sxy_{ax}_{bx}") - F.col(f"sx_{ax}") * F.col(f"sx_{bx}")
        ).cast("double")
        vx = (
            n_dec * F.col(f"sxx_{ax}") - F.col(f"sx_{ax}") * F.col(f"sx_{ax}")
        ).cast("double")
        vy = (
            n_dec * F.col(f"sxx_{bx}") - F.col(f"sx_{bx}") * F.col(f"sx_{bx}")
        ).cast("double")
        return F.struct(
            F.lit(a).alias("var_x"),
            F.lit(b).alias("var_y"),
            F.col("n").alias("n"),
            F.round(cov / F.sqrt(vx * vy), 8).alias("corr"),
        )

    # ONE aggregate row exploded to the 6 matrix rows — a union of six
    # pair-selects would replay the full-scan aggregate per branch
    return moments.select(
        F.explode(
            F.array(*[pair_struct(a, b) for a, b in CORR_PAIRS])
        ).alias("p")
    ).select("p.var_x", "p.var_y", "p.n", "p.corr")


# ---------------------------------------------------------------------------
# fn_udf_slugify — Arrow-batched scalar pandas UDF, first-class key (r9)
# ---------------------------------------------------------------------------


@query("fn_udf_slugify", oracle=r"""
    WITH t AS (
      SELECT p_partkey,
             trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '-')
               AS slug
      FROM part
    )
    SELECT p_partkey, slug,
           CAST(length(slug) AS INT) AS slug_len
    FROM t WHERE p_partkey % 10 = 0
""")
def fn_udf_slugify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF as a first-class operator (new r9) — §2.10's
    vectorized-UDF surface exercised end-to-end as its own key rather
    than inside a kernel: a @pandas_udf slugifier (lowercase, collapse
    non-alphanumeric runs to '-', trim) registered and applied over the
    part names. The UDF body is vectorized pandas .str ops over Arrow
    batches — never a Python-per-row loop — and its CONTRACT is
    SQL-replayable, so the DuckDB oracle re-expresses it as
    regexp_replace and the hash match proves the UDF path computes
    exactly what the declarative path would (the mm_* kernels' contract
    discipline, applied to the scalar-UDF API).

    Scale shape: embarrassingly parallel per-row map; the only cost
    delta vs a built-in expression is the Arrow serialization boundary
    (PLANS.md shows the ArrowEvalPython signal — the audit
    distinguishes it from row-wise BatchEvalPython, which this key
    must never show).

    Exactness: pure string algebra on ASCII part names — identical
    regex semantics in pandas and DuckDB ('+' runs, 'g' global),
    deterministic trivially."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def slugify(s):  # noqa: ANN001 — PEP-563 stringized hints break
        # pandas_udf signature inspection under `from __future__ import
        # annotations`; the return type lives in the decorator
        return (
            s.str.lower()
            .str.replace(r"[^a-z0-9]+", "-", regex=True)
            .str.strip("-")
        )

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    return p.select(
        "p_partkey",
        slugify(F.col("p_name")).alias("slug"),
    ).withColumn("slug_len", F.length("slug").cast("int"))


# ---------------------------------------------------------------------------
# agg_ols_multi — two-feature OLS via exact normal equations (r10)
# ---------------------------------------------------------------------------

# Shared VERBATIM by both engine texts: the Cramer solution of the 3x3
# normal equations over the 10 exact moments (already cast to DOUBLE,
# one cast per moment). Identical expression text => identical IEEE
# evaluation order => bit-identical doubles on both sides.
_OLS_PROJ_SQL = """
    round((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
           + s2*(s1y*s12 - s11*s2y))
          / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
             + s2*(s1*s12 - s11*s2)), 6) AS b0,
    round((n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2)
           + s2*(s1*s2y - s1y*s2))
          / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
             + s2*(s1*s12 - s11*s2)), 6) AS b1,
    round((n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2)
           + sy*(s1*s12 - s11*s2))
          / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
             + s2*(s1*s12 - s11*s2)), 6) AS b2,
    round(1.0 - (syy
        - ((sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
            + s2*(s1y*s12 - s11*s2y)) * sy
           + (n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2)
              + s2*(s1*s2y - s1y*s2)) * s1y
           + (n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2)
              + sy*(s1*s12 - s11*s2)) * s2y)
          / (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
             + s2*(s1*s12 - s11*s2)))
        / (syy - sy*sy/n), 6) AS r2,
    CAST(n AS BIGINT) AS n"""

# Every moment accumulates in DECIMAL(38,0): the cast happens INSIDE the
# aggregate (on one product operand), never after sum() — sum(y*y) reaches
# ~2.2e19 at sf0.1 (> int64 max), so a post-sum cast would let Spark wrap
# (ANSI off) or throw (ANSI on) while DuckDB silently widens to HUGEINT.
# Same device as agg_corr_matrix above.
_OLS_MOMENTS_SQL = """
      SELECT CAST(CAST(count(*) AS DECIMAL(38,0)) AS DOUBLE) AS n,
             CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS s11,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s22,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s12,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy"""


@query("agg_ols_multi", oracle=f"""
    WITH rows_q AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y
      FROM lineitem
    ),
    m AS (
      {_OLS_MOMENTS_SQL}
      FROM rows_q
    )
    SELECT {_OLS_PROJ_SQL}
    FROM m
""")
def agg_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression by exact normal equations (new r10):
    price ~ quantity + discount over lineitem, solved in CLOSED FORM —
    one map-side-combinable scan accumulates the 10 exact integer
    moments (the agg_corr_matrix device: cents-quantized BIGINT rows,
    DECIMAL(38,0) sums), then the 3×3 Cramer solution and R² are a
    single shared projection. The multi-feature completion of
    agg_regression (whose regr_* built-ins are bivariate only) — the
    distributed OLS everyone reaches for before touching MLlib.

    Exactness: moments are exact until ONE cast to double each; the
    Cramer determinants and R² are then evaluated from an expression
    string SHARED VERBATIM by both engine texts (module constant
    _OLS_PROJ_SQL), so evaluation order — hence every IEEE rounding —
    is identical by construction. No iterative fitting, no RNG, no
    libm beyond round().

    Scale shape: one full-scan aggregate to a single row, constant
    work after; k features cost (k+1)(k+2)/2 sum columns in the same
    pass — quadratic in k, linear in data, zero extra shuffles (the
    corr_matrix contract)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        (F.col("l_discount").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x2"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    li.createOrReplaceTempView("_ols_rows")
    return spark.sql(
        f"WITH m AS ({_OLS_MOMENTS_SQL} FROM _ols_rows) "
        f"SELECT {_OLS_PROJ_SQL} FROM m"
    )


# ---------------------------------------------------------------------------
# agg_benford — Benford first-digit conformance test (r11)
# ---------------------------------------------------------------------------

import math as _math

# Benford probabilities log10(1 + 1/d) as full-precision Python repr
# literals shared by both engine texts (the SPRT constant device), and
# the chi-square 0.95 quantile at 8 df.
_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
BENFORD_CHI2_95_DF8 = 15.50731305586545
_BENFORD_VALUES = ", ".join(
    f"({d}, {_BENFORD_P[d]!r})" for d in range(1, 10)
)


@query("agg_benford", oracle=f"""
    WITH cents AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    digs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM cents WHERE c > 0
    ),
    cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS n_d FROM digs GROUP BY d),
    e AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) _e(d, p)),
    fulld AS (
      SELECT e.d, e.p, coalesce(cnt.n_d, 0) AS n_d
      FROM e LEFT JOIN cnt ON cnt.d = e.d
    ),
    tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM fulld),
    terms AS (
      SELECT f.d, f.p, f.n_d, t.n,
             (CAST(f.n_d AS DOUBLE) - CAST(t.n AS DOUBLE) * f.p)
             * (CAST(f.n_d AS DOUBLE) - CAST(t.n AS DOUBLE) * f.p)
             / (CAST(t.n AS DOUBLE) * f.p) AS contrib
      FROM fulld f CROSS JOIN tot t
    ),
    s AS (
      SELECT list_reduce(
               list_transform(list_sort(list({{'d': d, 'c': contrib}})),
                              x -> x.c),
               (a, b) -> a + b) AS chi2
      FROM terms
    )
    SELECT terms.d, terms.n_d, terms.n,
           round(terms.p, 6) AS benford_p,
           round(CAST(terms.n_d AS DOUBLE) / CAST(terms.n AS DOUBLE), 6)
             AS obs_p,
           round(terms.contrib, 6) AS contrib,
           round(s.chi2, 6) AS chi2,
           s.chi2 > {BENFORD_CHI2_95_DF8!r} AS reject_benford
    FROM terms CROSS JOIN s
""")
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformance test over purchase
    amounts (new r11) — the classical forensic data-quality check
    (Newcomb 1881, Benford 1938; the standard first screen for
    fabricated or truncated numeric columns in audit pipelines):
    observed first-digit shares vs P(d) = log10(1+1/d), χ² goodness of
    fit with 8 df against the 0.95 quantile embedded as a literal
    (p-values need the incomplete gamma — the events_chisq doctrine:
    stop honestly at the statistic and the fixed-level decision).

    Exactness: the digit is taken from the exact integer CENTS
    rendering (CAST to VARCHAR of a BIGINT — no scientific notation in
    either engine, no float log10 anywhere near the decision); cents
    come from round(value*100) with ties-away-from-zero in BOTH
    engines (DuckDB round(double) and Spark round(·,0) both break
    half-cent ties away from zero on the exact binary double — the r11
    ADVICE fix replacing the tie-hazardous double→DECIMAL cast), counts
    are exact BIGINTs on a dense 9-digit spine (VALUES literals), the
    Benford probabilities are full-precision repr literals shared by
    both texts, and the χ² total is the events_chisq sorted-fold —
    both engines add identical per-digit doubles in identical order.

    Scale shape: one filter + one 9-group map-side-combinable count;
    everything downstream operates on 9 rows. The fold and the spine
    join are metadata-scale."""
    cents = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 0))
        .select(
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
        )
        .filter(F.col("c") > 0)
    )
    cnt = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    # pure-plan digit spine (spark.range + literal array): keeps the whole
    # key inside Catalyst — a createDataFrame spine would surface as an
    # ExistingRDD scan and trip the PLANS.md checkpoint column for nothing
    e = spark.range(1, 10).select(
        F.col("id").cast("bigint").alias("d"),
        F.element_at(
            F.array(*[F.lit(_BENFORD_P[d]) for d in range(1, 10)]),
            F.col("id").cast("int"),
        ).alias("p"),
    )
    fulld = (
        e.join(cnt, "d", "left")
        .select("d", "p", F.coalesce("n_d", F.lit(0)).alias("n_d"))
    )
    tot = fulld.agg(F.sum("n_d").cast("bigint").alias("n"))
    diff = F.col("n_d").cast("double") - F.col("n").cast("double") * F.col("p")
    terms = fulld.crossJoin(F.broadcast(tot)).withColumn(
        "contrib", diff * diff / (F.col("n").cast("double") * F.col("p"))
    )
    s = terms.agg(
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("d"), F.col("contrib").alias("c"))
                    )
                ),
                lambda x: x["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("chi2")
    )
    return terms.crossJoin(F.broadcast(s)).select(
        "d",
        "n_d",
        "n",
        F.round("p", 6).alias("benford_p"),
        F.round(F.col("n_d").cast("double") / F.col("n").cast("double"), 6)
        .alias("obs_p"),
        F.round("contrib", 6).alias("contrib"),
        F.round("chi2", 6).alias("chi2"),
        (F.col("chi2") > BENFORD_CHI2_95_DF8).alias("reject_benford"),
    )
