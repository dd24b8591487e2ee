"""Relational operator suite — SURVEY.md §2.1-2.4, 2.6 (Tier A + Tier B).

Every function is a (spark, sf_dir) -> DataFrame registered with its
DuckDB oracle SQL. Conventions for oracle hash-stability:

- Aggregates over doubles go through DECIMAL(18,2|4) so both engines do
  exact decimal arithmetic, then cast back to DOUBLE — identical bits
  regardless of partial-agg order. (Direct double SUM is order-dependent
  in the last bits; at 100 TB the partial-agg tree shape is arbitrary.)
- Every computed column is aliased identically in both dialects.
- LIMIT queries order by a unique key chain so the cutoff is well-defined.

Scale notes are on each operator; the common ones: group-by cardinality
bounded → tiny shuffle; dimension joins broadcast (autoBroadcastJoinThreshold
covers them at any realistic SF — region/nation/supplier are bounded).

Reference evidence cited per operator (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quackflight_spark.registry import query
from quackflight_spark.sources.fixtures import load_table


def _dec(col, scale: int = 2):
    """Exact-decimal view of a 2/4-decimal double column."""
    return F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str) else col.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# §2.1 scans

@query(
    "scan_parquet",
    oracle="""
    SELECT town, district, count(*) AS c
    FROM (SELECT l_returnflag AS town, l_linestatus AS district FROM lineitem)
    WHERE town = 'R'
    GROUP BY town, district
    ORDER BY c DESC, town, district
    LIMIT 10
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README demo shape (reference README.md:5): read_parquet scan →
    filter → group → count() → top-k. Columns renamed to the demo's
    town/district to mirror the query shape 1:1."""
    df = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("town"), F.col("l_linestatus").alias("district")
    )
    return (
        df.filter(F.col("town") == "R")
        .groupBy("town", "district")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "town", "district")
        .limit(10)
    )


@query("scan_table", oracle="SELECT * FROM nation")
def scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan — the reference's generated tickets are
    `SELECT * FROM {catalog}.{schema}.{table}` (main.py:722, 955)."""
    return load_table(spark, sf_dir, "nation")


# ---------------------------------------------------------------------------
# §2.2 projections / filters

@query("project_cols", oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem
""")
def project_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection with alias (reference main.py:550 `schema_name as
    schema`). Catalyst prunes the parquet ReadSchema to 3 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", F.col("l_quantity").alias("qty"))


@query("filter_eq", oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
""")
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate (reference README.md:5 `town == 'LONDON'`;
    ClickHouse `==` and SQL `=` are both accepted by our dialect layer).
    Pushed to the parquet scan (PushedFilters)."""
    return load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query("filter_conj", oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_returnflag = 'A' AND l_quantity > 30 AND l_discount <= 0.05
""")
def filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates (reference main.py:898-899)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "A")
        & (F.col("l_quantity") > 30)
        & (F.col("l_discount") <= 0.05)
    ).select("l_orderkey", "l_linenumber")


@query("filter_param", oracle="""
    SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2
""")
def filter_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized predicate — reference uses `?` placeholders
    (main.py:548-557); Spark ≥3.4 spark.sql positional args."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = ?", args=[2]
    )


@query("filter_between_in", oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 100000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
""")
def filter_between_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN + IN (Tier B predicate surface, delegated at main.py:231)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 100000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@query("filter_like_regex", oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%el%' AND regexp_matches(p_type, '^(STANDARD|SMALL)')
""")
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + regex match (Tier B; DuckDB `regexp_matches` ↔ Spark rlike)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%el%") & F.col("p_type").rlike("^(STANDARD|SMALL)")
    ).select("p_partkey", "p_name", "p_type")


@query("filter_null_case", oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM orders
    WHERE o_orderdate IS NOT NULL
""")
def filter_null_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL + CASE WHEN (Tier B predicate/conditional surface)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderdate").isNotNull()).select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins

@query("join_using", oracle="""
    SELECT n_name, r_name
    FROM (SELECT n_name, n_regionkey AS r_regionkey FROM nation) n
    JOIN region USING (r_regionkey)
""")
def join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key USING equi-join — the one join the reference's own code
    builds (main.py:897, information_schema tables⋈columns). Both sides
    here are bounded dims → broadcast hash join, zero shuffle."""
    n = load_table(spark, sf_dir, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
    r = load_table(spark, sf_dir, "region")
    return n.join(r, on="r_regionkey", how="inner").select("n_name", "r_name")


@query("join_inner_on", oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 400000
""")
def join_inner_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER ON equi-join, fact→dim: customer broadcasts; at 100 TB the
    filter on the fact side pushes to the scan before the join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_totalprice") > 400000)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@query("join_left", oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      ON c_custkey = o_custkey
""")
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    c = load_table(spark, sf_dir, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@query("join_right", oracle="""
    SELECT o_orderkey, c_custkey, c_name
    FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o
    RIGHT JOIN customer ON o_custkey = c_custkey
""")
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (SURVEY §2.3 J2)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@query("join_full", oracle="""
    WITH big AS (SELECT o_custkey, count(*) AS n_big FROM orders
                 WHERE o_totalprice > 400000 GROUP BY o_custkey),
         urgent AS (SELECT o_custkey, count(*) AS n_urgent FROM orders
                    WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
    SELECT coalesce(big.o_custkey, urgent.o_custkey) AS custkey, n_big, n_urgent
    FROM big FULL JOIN urgent ON big.o_custkey = urgent.o_custkey
""")
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (Tier B). Shuffle join on o_custkey both sides —
    the partial aggs reduce input before the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .groupBy(F.col("o_custkey").alias("ck_big"))
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("ck_urgent"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return big.join(
        urgent, big.ck_big == urgent.ck_urgent, "full"
    ).select(
        F.coalesce("ck_big", "ck_urgent").alias("custkey"),
        "n_big",
        "n_urgent",
    )


@query("join_cross", oracle="""
    SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2
""")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN (Tier B) — only ever sane between bounded inputs; Spark
    requires the explicit crossJoin call, which is the right guardrail."""
    r1 = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("a"))
    r2 = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("b"))
    return r1.crossJoin(r2)


@query("join_semi", oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
""")
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS subquery after decorrelation (Tier B; DuckDB
    decorrelates, Catalyst RewritePredicateSubquery does the same)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query("join_anti", oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query("join_theta", oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey < n_nationkey AND n_nationkey <= 3
""")
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi θ-join (Tier B) → BroadcastNestedLoopJoin. Correct plan:
    the bounded side (nation, filtered) broadcasts; never NL-join two
    unbounded sides at scale."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") <= 3)
    return s.join(
        F.broadcast(n), s.s_nationkey < n.n_nationkey
    ).select("s_suppkey", "s_name", "n_name")


@query("join_lateral", oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
""")
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL top-n-per-row join (Tier B, SURVEY §2.3 J7). Spark-first
    re-expression: window row_number per key — one shuffle, no
    nested-loop re-execution per outer row."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    top2 = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )
    return c.join(top2, c.c_custkey == top2.o_custkey).select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@query("join_positional", oracle="""
    WITH a AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region),
         b AS (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation)
    SELECT a.r_name, b.n_name FROM a JOIN b USING (rn)
""")
def join_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL (zip-by-row) join — DuckDB extension semantics re-expressed
    as row_number over a deterministic order + equi-join (SURVEY §2.3 J7).

    SCALE CAVEAT: the unpartitioned row_number is a single-task sort —
    inherent to zip-by-row semantics (a global row ordinal IS a global
    order). Point this only at bounded frames (here: region×nation,
    5/25 rows); for a large frame needing global ordinals use the
    distributed rank machinery (streaming/windowed._ntile_distributed's
    range-partition + offset pattern) instead."""
    from pyspark.sql import Window as W

    r = load_table(spark, sf_dir, "region").withColumn(
        "rn", F.row_number().over(W.orderBy("r_regionkey"))
    )
    n = load_table(spark, sf_dir, "nation").withColumn(
        "rn", F.row_number().over(W.orderBy("n_nationkey"))
    )
    return r.join(n, on="rn", how="inner").select("r_name", "n_name")


# ---------------------------------------------------------------------------
# §2.4 aggregations

@query("agg_count_star", oracle="SELECT count(*) AS total FROM lineitem")
def agg_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count() / COUNT(*) (reference README.md:5 zero-arg count();
    examples/flight_watch.py:46). Partial counts per partition, one-row
    shuffle — constant cost at any scale."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("total"))


@query("agg_groupby", oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash GROUP BY (reference README.md:5). Map-side partial
    agg → shuffle of ≤|flag×status| rows per partition."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("agg_basic", oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           COUNT(l_quantity) AS n
    FROM lineitem GROUP BY l_returnflag
""")
def agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg/min/max/count (Tier B). Decimal-exact sums (see module
    docstring) keep the result bit-identical under any partial-agg tree."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
        F.count("l_quantity").alias("n"),
    )


@query("agg_distinct", oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag
""")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) (Tier B). Spark expands to a two-phase distinct
    aggregate; for 100 TB prefer approx_count_distinct (agg_approx key)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


def _flag_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest-grain pre-aggregate for the grouping-sets family: count by
    (l_returnflag, l_linestatus).  Every grouping set here is a subset of
    those two keys and count is decomposable (sum of partial counts), so
    the rollup can run over this ~6-row frame instead of the raw scan.
    Without it Spark's Expand operator multiplies EVERY scan row by the
    number of grouping sets before the shuffle — 3× the table shuffled
    for agg_grouping_sets (r1 bench: 1.7 s, 33× oracle at sf0.1; at
    100 TB that is 300 TB through the exchange).  Pre-agg first: the
    Expand blowup applies to 6 rows."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("agg_grouping_sets", oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (Tier B) — native in Spark SQL, run over the
    finest-grain pre-aggregate (see _flag_status_counts).

    Empty-input caveat: count(*) over an empty table yields 0 for the ()
    set, but sum over the 0-row pre-aggregate yields NULL — coalesce
    covers that; a fully absent () row (no input rows at all) would still
    diverge, which only an empty fact table can produce."""
    _flag_status_counts(spark, sf_dir).createOrReplaceTempView("qf_fs_counts")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n
        FROM qf_fs_counts
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query("agg_rollup", oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _flag_status_counts(spark, sf_dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"))
    )


@query("agg_cube", oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _flag_status_counts(spark, sf_dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"))
    )


@query("agg_filter", oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_bigqty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_discounted
    FROM lineitem GROUP BY l_returnflag
""")
def agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg(...) FILTER (WHERE ...) (Tier B) — native Spark SQL ≥3.0."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_quantity > 25) AS n_bigqty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_discounted
        FROM lineitem GROUP BY l_returnflag
        """
    )


@query("agg_argminmax", oracle="""
    SELECT l_returnflag,
           arg_min(l_orderkey, l_extendedprice ORDER BY l_orderkey) AS cheapest_order,
           arg_max(l_orderkey, l_extendedprice ORDER BY l_orderkey) AS priciest_order
    FROM lineitem GROUP BY l_returnflag
""")
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_min/arg_max (Tier B) ↔ Spark min_by/max_by (≥3.3). Ties broken
    deterministically by including the key in the compared tuple."""
    li = load_table(spark, sf_dir, "lineitem")
    # min_by/max_by tie-break is nondeterministic; make the orderer unique
    # by forming (price, orderkey) struct — both engines then agree.
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", F.struct("l_extendedprice", "l_orderkey")).alias("cheapest_order"),
        F.max_by("l_orderkey", F.struct("l_extendedprice", "l_orderkey")).alias("priciest_order"),
    )


@query("agg_list", oracle="""
    SELECT n_regionkey,
           len(list(n_name)) AS names_n,
           string_agg(n_name, ',' ORDER BY n_name) AS names_csv
    FROM nation GROUP BY n_regionkey
""")
def agg_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list()/array_agg + string_agg (Tier B). collect_list order is
    partition-dependent → wrap in array_sort for a canonical result (the
    oracle sorts too). The checked projection is scalar-only (size +
    joined string): the r1 driver canonicalizer cannot sort/hash a raw
    array cell (`unhashable type: 'list'`), and the csv form proves the
    identical list semantics. At scale: bounded group payloads only."""
    n = load_table(spark, sf_dir, "nation")
    arr = F.array_sort(F.collect_list("n_name"))
    return n.groupBy("n_regionkey").agg(
        F.size(arr).alias("names_n"),
        F.array_join(arr, ",").alias("names_csv"),
    )


@query("agg_quantile", oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS median_qty,
           CAST(quantile_disc(l_extendedprice, 0.9) AS DOUBLE) AS p90_price
    FROM lineitem GROUP BY l_returnflag
""")
def agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete quantiles (Tier B `quantile_disc`). Spark `percentile`
    interpolates, so we use the exact discrete definition via sort +
    element_at — semantically quantile_disc. For 100 TB use
    approx_percentile (see agg_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    # quantile_disc(x, q) = the element at index ceil(q*n) (1-based) of the
    # sorted multiset. percentile_approx with accuracy=high is exact-ish but
    # not guaranteed; sort_array(collect_list()) is exact for bounded groups.
    def qdisc(colname: str, q: float):
        arr = F.array_sort(F.collect_list(colname))
        idx = F.greatest(F.ceil(F.size(arr) * F.lit(q)), F.lit(1)).cast("int")
        return F.element_at(arr, idx)

    return li.groupBy("l_returnflag").agg(
        qdisc("l_quantity", 0.5).alias("median_qty"),
        qdisc("l_extendedprice", 0.9).cast("double").alias("p90_price"),
    )


@query("agg_stats", oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp
    FROM lineitem GROUP BY l_returnflag
""")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/var/corr/covar (Tier B). Rounded to absorb last-bit
    float-order differences between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
    )


@query("agg_approx", oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
    FROM lineitem GROUP BY l_returnflag
""")
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct — the 100 TB path for agg_distinct. The oracle
    checks the EXACT count; the Spark side asserts the HLL estimate is
    within 2% and returns the exact count so the hash matches. Both
    variants execute; the approx one is the scale recommendation."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    # Keep the approx column out of the oracle compare but fail loudly if
    # the sketch drifts: the engine's guarantee, enforced inline.
    checked = agg.filter(
        (F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")) > 0.10
    )
    if checked.count():
        raise RuntimeError("approx_count_distinct drifted >10% from exact")
    return agg.select("l_returnflag", "exact_parts")


@query("agg_having", oracle="""
    SELECT l_suppkey, count(*) AS n FROM lineitem
    GROUP BY l_suppkey HAVING count(*) > 550
""")
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 550)
    )


@query("agg_distinct_rows", oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query("agg_distinct_on", oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
""")
def agg_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON(k) (DuckDB-ism, Tier B) → deterministic row_number()=1
    rewrite; the dialect frontend (plans/dialect.py) performs the same
    rewrite textually for SQL input."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits / top-k / sampling

@query("orderby_desc_limit", oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def orderby_desc_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (reference README.md:5 `ORDER BY c DESC LIMIT 10`). Catalyst
    fuses to TakeOrderedAndProject: per-partition heap + driver merge —
    no global sort, O(k) memory. Unique tiebreak for determinism."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), "o_orderkey").limit(10).select(
        "o_orderkey", "o_totalprice"
    )


@query("orderby_multi", oracle="""
    SELECT n_regionkey, n_name FROM nation ORDER BY n_regionkey, n_name
""")
def orderby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ORDER BY (reference main.py:900). Full sort = range
    partition + local sort at scale."""
    return load_table(spark, sf_dir, "nation").orderBy("n_regionkey", "n_name").select(
        "n_regionkey", "n_name"
    )


@query("limit_offset", oracle="""
    SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 40
""")
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET (Tier B; Spark ≥3.4 df.offset)."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").offset(40).limit(20).select("o_orderkey", "o_totalprice")


@query("sample_random", oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)) LIMIT 1
""")
def sample_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform row pick, the reference's ORDER BY RANDOM() LIMIT 1 shape
    (examples/flight_watch.py:53-57) made REPRODUCIBLE: rank by the md5
    of the key instead of an RNG draw — the same hash-the-key idiom as
    split_train_test, so the pick is uniform over keys yet identical
    across runs, partitionings, and engines, which upgrades this key
    from a rows-only check to a full value oracle (r5 verdict task).
    True-RNG form for users who want it: df.orderBy(F.rand(seed)).

    Scale shape: ORDER BY + LIMIT 1 fuses to TakeOrderedAndProject —
    single pass, per-partition top-1 then a 1-row-per-partition reduce,
    never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.md5(F.col("o_orderkey").cast("string")))
        .limit(1)
        .select("o_orderkey", "o_totalprice")
    )


@query("sample_percent", oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE (CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                               CAST(l_linenumber AS VARCHAR)), 1, 8)
           AS BIGINT) % 100) < 1
""")
def sample_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`USING SAMPLE 1%` (Tier B) as a DETERMINISTIC hash sample: keep a
    row iff its md5 key bucket (of 100) is 0 — reproducible across runs,
    partitionings, and engines (full value oracle since r6; the
    RNG-Bernoulli form df.sample(fraction, seed) remains the
    per-partition alternative when statistical independence from the key
    matters more than reproducibility). Uniformity comes from md5, the
    composite (l_orderkey, l_linenumber) key makes every row an
    independent draw.

    Scale shape: pure map — a filter on a hash of row-local columns,
    zero exchanges, pushdown-friendly projection; the only sane sample
    at 100 TB either way."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return li.filter(bucket < 1).select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# TPC-H-shaped headliners (bench queries; SURVEY §6 measurement protocol)

@query("tpch_q1", oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the scan+agg throughput headliner.
    Map-side partial agg reduces 100 TB of input to |flag×status| rows
    per task before the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    price, disc, tax, qty = (_dec("l_extendedprice"), _dec("l_discount"), _dec("l_tax"), _dec("l_quantity"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("tpch_q3", oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
""")
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: selective dim filter → broadcast join
    against the fact table → agg → top-k. customer(filtered) broadcasts;
    lineitem never shuffles for the join."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query("tpch_q5", oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
""")
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: 6-table star join. All dims
    broadcast; the only shuffle is lineitem⋈orders keyed on orderkey and
    the final small agg. This is the join-planning headliner."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
