"""Aggregation operators — SURVEY §2.4.

Reference analog: Flink's ``AggregateOperator`` / ``DataSetAggregate`` with
sort/hash combiners (partial+final). Spark's ``HashAggregateExec`` does the
same partial/final split automatically; at 100 TB the map-side partial
aggregation bounds shuffle volume by |groups|·|partitions|, so these plans
scale with cardinality of the result, not the input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streamline_hybrid_engine_spark.catalog import load_table
from streamline_hybrid_engine_spark.functions.numeric import (
    davg,
    dsum,
    oavg,
    ornd,
    osum,
    rnd,
)
from streamline_hybrid_engine_spark.registry import query


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum("l_quantity", "sum_qty")},
           {osum("l_extendedprice", "sum_base_price")},
           {osum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {osum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
           {oavg("l_quantity", "avg_qty")},
           {oavg("l_extendedprice", "avg_price")},
           {oavg("l_discount", "avg_disc")},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → project → hash agg (partial+final)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_global_revenue",
    oracle=f"""
    SELECT {osum("l_extendedprice * l_discount", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg",),
)
def agg_global_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: global (no-key) aggregate after selective filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "agg_count_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark expands to a two-phase exact distinct agg."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_approx_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def agg_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct, under an ERROR-BOUND oracle.

    Reference had no core HLL (SURVEY §2.4); Spark's approx_count_distinct
    is the scale path for 100 TB distinct counts (no shuffle of raw keys).

    A sketch estimate has no cross-engine exact oracle (r1-r3 this id was
    rows-only and its stamp read `no_oracle` forever), but the CONTRACT a
    user relies on — "the estimate at rsd 0.01 is within 5% of the exact
    count" — is oracle-able: the query emits the exact count plus a
    boolean verdict computed Spark-side from the sketch; the oracle
    supplies the same exact count and asserts the verdict is TRUE. If the
    HLL path ever degrades past the bound, the boolean flips and the hash
    gate goes red. HLL++ is deterministic for a given dataset (hash-based,
    order-insensitive merge), so the verdict cannot flake.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
    )


@query(
    "agg_stats_extendedprice",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 6) AS std_price,
           round(stddev_pop(l_extendedprice), 6) AS stdp_price,
           round(var_samp(l_extendedprice), 6) AS var_price,
           round(var_pop(l_extendedprice), 6) AS varp_price,
           round(min(l_extendedprice), 6) AS min_price,
           round(max(l_extendedprice), 6) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_stats_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Calcite std aggs in the reference)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        rnd(F.stddev_samp("l_extendedprice"), "std_price"),
        rnd(F.stddev_pop("l_extendedprice"), "stdp_price"),
        rnd(F.var_samp("l_extendedprice"), "var_price"),
        rnd(F.var_pop("l_extendedprice"), "varp_price"),
        rnd(F.min("l_extendedprice"), "min_price"),
        rnd(F.max("l_extendedprice"), "max_price"),
    )


@query(
    "agg_rollup_nation_region",
    oracle=f"""
    SELECT r_name, n_name,
           count(*) AS n_customers,
           {osum("c_acctbal", "sum_acctbal")},
           CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS gid
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (region → nation → grand total) with grouping_id."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dsum("c_acctbal", "sum_acctbal"),
        F.grouping_id().cast("int").alias("gid"),
    )


@query(
    "agg_cube_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum("l_quantity", "sum_qty")},
           count(*) AS n,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims — Calcite grouping-sets expansion in the reference."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        F.count("*").alias("n"),
        F.grouping_id().cast("int").alias("gid"),
    )


@query(
    "agg_argmax_order_per_cust",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS best_orderkey,
           round(max(o_totalprice), 6) AS best_price
    FROM orders GROUP BY o_custkey
    """,
    tags=("agg",),
)
def agg_argmax_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minBy/maxBy (arg-max record) — Flink's UnsortedGrouping.maxBy."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("best_orderkey"),
        rnd(F.max("o_totalprice"), "best_price"),
    )


@query(
    "agg_collect_types_per_user",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("agg",),
)
def agg_collect_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLECT multiset agg — sorted + string-joined for deterministic hashing."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
        F.count("*").alias("n_events"),
    )


@query(
    "udaf_weighted_avg_price",
    oracle="""
    SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(38,18))) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS DECIMAL(38,18))) AS DOUBLE), 6) AS w_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "udaf"),
)
def udaf_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF (Flink AggregateFunction analog): quantity-weighted avg price.

    Implemented as an Arrow-batched grouped-map (``applyInPandas``) to
    exercise the custom-aggregator path; the accumulate/merge/getValue
    lifecycle of Flink's AggregateFunction collapses into one vectorized
    pass per group. (A pure-SQL formulation would be faster; this row
    exists to prove the UDAF surface.)
    """
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        # fsum = correctly-rounded (order-independent) float sum — matches the
        # oracle's exact decimal-sum-then-cast to within 1 ulp, killed by round6.
        num = math.fsum(pdf["l_extendedprice"] * pdf["l_quantity"])
        den = math.fsum(pdf["l_quantity"])
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "w_avg_price": [round(num / den, 6)],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        weighted, schema="l_returnflag string, w_avg_price double"
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(median(l_extendedprice), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use linear interpolation
    between closest ranks — verified identical to 6 decimals).

    Scale note: exact percentile buffers the group's values; at 100 TB use
    ``approx_percentile`` (t-digest, mergeable, bounded memory) — exact
    here because the oracle needs determinism.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.90)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
    )


@query(
    "agg_grouping_sets_mixed",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           {osum("o_totalprice", "sum_price")},
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "groupingsets"),
)
def agg_grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind ROLLUP/CUBE —
    Calcite expand rule in the reference, `GroupingSetsITCase` coverage).

    Via spark.sql: the SQL entry point and the fluent API are the same
    DataFrame (SURVEY §3.4), so SQL-only surfaces cost nothing extra.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("she_orders_gs")
    micro_sum = (
        "round(CAST(sum(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS DOUBLE)"
        " / 1000000, 6)"
    )
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               {micro_sum} AS sum_price,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS gid
        FROM she_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_bool_bundle",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount >= 0.0) AS all_nonneg_disc,
           bool_or(l_discount > 0.09) AS any_deep_disc,
           bool_and(l_quantity >= 1) AS all_qty_positive,
           bool_or(l_tax > 0.07) AS any_high_tax,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_bool_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (EVERY/ANY — bool_and/bool_or): predicate
    summaries per group, partial-aggregated map-side like any other agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") >= 0.0).alias("all_nonneg_disc"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_disc"),
        F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_positive"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count("*").alias("n"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (Greenwald-Khanna approx_percentile with
    accuracy 10000) next to the exact-interpolation agg_percentiles row —
    the sketch path is what a 100 TB percentile actually uses (mergeable,
    single pass, bounded memory).

    ERROR-BOUND oracle (same pattern as agg_approx_users): the sketch
    values themselves have no cross-engine oracle, but the guarantee —
    GK at accuracy 10000 returns a data value whose rank is within
    n/10000 of the target, so it must land inside the exact interpolated
    [p-0.001, p+0.001] quantile band — is checked Spark-side and emitted
    as booleans; the oracle pins them TRUE next to the exact p50 anchor
    (quantile_cont == Spark `percentile`, verified by agg_percentiles).
    GK on a fixed dataset is deterministic, so the verdict cannot flake.

    Scalar-only output per registry convention (the r2 sweep crashed
    canonicalizing an array-typed cell — see test_parity_sf0001 lint)."""
    li = load_table(spark, sf_dir, "lineitem")

    def band_ok(idx: int) -> F.Column:
        # ex = [lo50, hi50, lo90, hi90, lo99, hi99, p50]
        v = F.col("ap")[idx]
        return (v >= F.col("ex")[2 * idx]) & (v <= F.col("ex")[2 * idx + 1])

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("ap"),
            F.count("*").alias("n"),
            F.expr(
                "percentile(l_extendedprice,"
                " array(0.499, 0.501, 0.899, 0.901, 0.989, 0.991, 0.5))"
            ).alias("ex"),
        )
        .select(
            "l_returnflag",
            "n",
            rnd(F.col("ex")[6], "exact_p50"),
            band_ok(0).alias("p50_ok"),
            band_ok(1).alias("p90_ok"),
            band_ok(2).alias("p99_ok"),
        )
    )


@query(
    "agg_histogram_bins",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    bounds AS (
      SELECT min(c) AS lo, max(c) AS hi FROM cents
    )
    SELECT CAST(((c - lo) * 10) // (hi - lo + 1) AS BIGINT) AS bin,
           count(*) AS n,
           min(c) AS min_cents,
           max(c) AS max_cents
    FROM cents, bounds
    GROUP BY 1
    """,
    tags=("agg",),
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 bins) of order prices — the profiling
    primitive behind optimizer statistics and data-quality dashboards.
    Bin edges computed ENTIRELY in integer cents (`(c-lo)*10 div range`),
    so no engine can disagree on a boundary — the float formulation
    `floor((x-min)/width)` puts edge values one ulp from flipping bins.
    One global min/max (broadcast scalar) + one groupBy: two passes over
    the column, both full scans parallel — the same shape at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    bounds = cents.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    return (
        cents.join(F.broadcast(bounds))
        .select(
            F.expr("((c - lo) * 10) div (hi - lo + 1)").cast("long").alias("bin"),
            "c",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
    )


@query(
    "agg_median_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    modes AS (
      SELECT l_returnflag, l_quantity AS mode_qty
      FROM (SELECT l_returnflag, l_quantity, c,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY c DESC, l_quantity) AS rk
            FROM counts)
      WHERE rk = 1
    )
    SELECT li.l_returnflag,
           round(quantile_cont(li.l_quantity, 0.5), 6) AS median_qty,
           m.mode_qty,
           count(*) AS n
    FROM lineitem li JOIN modes m ON m.l_returnflag = li.l_returnflag
    GROUP BY li.l_returnflag, m.mode_qty
    """,
    tags=("agg", "statistics"),
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + deterministic mode per group.

    The mode is NOT `mode()` in either engine — both leave ties
    implementation-defined. Deterministic contract: highest count, ties
    broken by smallest value, expressed as count-then-rank on BOTH sides.
    Scale shape: the counts table is |groups × distinct values| (map-side
    partial agg), the rank is a window over that small table — the raw
    input is scanned once per leg, never buffered per group (unlike the
    exact median, whose 100 TB form is approx_percentile — see
    agg_approx_percentile)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("c"), F.asc("l_quantity")
    )
    modes = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    med = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.count("*").alias("n"),
    )
    return med.join(F.broadcast(modes), "l_returnflag").select(
        "l_returnflag", "median_qty", "mode_qty", "n"
    )


#: fixed-point millis (1e3) for the correlation sums: quantity ≤ 50 and
#: extendedprice ≤ ~1.1e5 make every per-row product ≤ ~6e12 — safely
#: inside int64 — while 1e3 still represents the 2-decimal money values
#: exactly. Sums of products go to 128-bit (Spark DECIMAL(38,0), DuckDB
#: HUGEINT) so they are EXACT integers; the final corr/covar arithmetic is
#: then identical IEEE double math on identical inputs in both engines.
_CORR_SCALE = 1_000


@query(
    "agg_corr_covar",
    oracle=f"""
    WITH fx AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * {_CORR_SCALE}) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * {_CORR_SCALE}) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM fx GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_qty_price,
           round((CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / {_CORR_SCALE * _CORR_SCALE}, 6) AS covar_pop_qty_price
    FROM s
    """,
    tags=("agg", "statistics"),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance per group, EXACT across
    engines. Native `corr`/`covar_pop` stream co-moments in partition order,
    so their last ulps differ per engine/partitioning and can cross the
    round-6 grid; instead the five sufficient statistics (Σx Σy Σxy Σx²
    Σy²) are accumulated as exact 128-bit integers over fixed-point values
    and the closed form is evaluated in double — order-independent,
    partitioning-independent, identical in Spark and DuckDB. Scale: one
    map-side partial agg, shuffle carries 5 numbers per group."""
    li = load_table(spark, sf_dir, "lineitem")
    fx = li.select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * _CORR_SCALE).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * _CORR_SCALE).cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    s = fx.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    corr = (d("n") * d("sxy") - d("sx") * d("sy")) / F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    covar = (d("sxy") / d("n") - (d("sx") / d("n")) * (d("sy") / d("n"))) / F.lit(
        float(_CORR_SCALE * _CORR_SCALE)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(covar, 6).alias("covar_pop_qty_price"),
    )


_PCTL_DISC_SQL = """
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           round(max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                          THEN l_quantity END), 6) AS q1_disc,
           round(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                          THEN l_quantity END), 6) AS q2_disc,
           round(max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                          THEN l_quantity END), 6) AS q3_disc,
           max(n) AS n_rows
    FROM ranked GROUP BY l_returnflag
"""


@query("agg_percentile_disc", oracle=_PCTL_DISC_SQL, tags=("agg", "percentile"))
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (PERCENTILE_DISC semantics — an actual data
    value at rank ceil(p·n), verified to match DuckDB's `quantile_disc`
    convention) next to the interpolated `agg_percentiles`. Quartile
    fractions only: 0.25/0.5/0.75 are exact binary doubles, so ceil(p·n)
    cannot drift by one ulp across engines the way 0.9·n can.
    Shared-dialect window formulation — the text IS the oracle."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PCTL_DISC_SQL)


_SKEW_SQL = """
    WITH fx AS (
      SELECT l_returnflag, CAST(floor(l_quantity * 1000) AS BIGINT) AS x
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(x * x * x AS DECIMAL(38,0))) AS DOUBLE) AS s3,
             CAST(sum(CAST(x * x * x * x AS DECIMAL(38,0))) AS DOUBLE) AS s4
      FROM fx GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag, n,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness_qty,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_qty
    FROM m
"""


@query("agg_skew_kurtosis", oracle=_SKEW_SQL, tags=("agg", "statistics"))
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis, EXACT across engines: like
    `agg_corr_covar`, the native streaming-moment aggregates differ in the
    last ulps per engine/partitioning, so the four raw power sums are
    accumulated as exact 128-bit integers over fixed-point values (per-row
    x⁴ ≤ 6.25e18 stays inside int64; sums go to DECIMAL(38,0)/HUGEINT)
    and one canonical closed form evaluates in double — identical inputs,
    identical IEEE ops, identical result. Fixed-point scaling cancels:
    both statistics are dimensionless. Shared-dialect: text IS the oracle.
    Scale: one map-side partial agg; the shuffle carries 4 numbers per
    group."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SKEW_SQL)


@query(
    "agg_hll_merge",
    oracle="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_total,
           CAST((SELECT sum(n) FROM (
              SELECT count(DISTINCT o_custkey) AS n
              FROM orders GROUP BY o_orderstatus)) AS BIGINT)
             AS sum_segment_exact,
           TRUE AS merged_within_5pct
    FROM orders
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HLL sketch workflow (Datasketches): per-segment sketches
    built with `hll_sketch_agg`, MERGED with `hll_union_agg`, estimated
    with `hll_sketch_estimate` — the two-level shape a 100 TB pipeline
    stores (sketch per partition/day, union at query time) which
    `approx_count_distinct`'s one-shot form can't express.

    ERROR-BOUND oracle (same pattern as agg_approx_users): the merged
    estimate itself has no cross-engine oracle, but the sketch CONTRACT —
    union-then-estimate lands within 5% of the true global distinct — is
    checked Spark-side and pinned TRUE by the oracle, next to two exact
    anchors (global distinct; sum of per-segment distincts, which
    over-counts customers ordering in several statuses — the overlap the
    union dedups). Datasketches HLL is hash-based and order-insensitive:
    deterministic for a fixture, the verdict cannot flake."""
    o = load_table(spark, sf_dir, "orders")
    per_seg = o.groupBy("o_orderstatus").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.countDistinct("o_custkey").alias("seg_exact"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_total"))
    merged = per_seg.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.sum("seg_exact").alias("sum_segment_exact"),
    )
    return merged.crossJoin(exact).select(
        "exact_total",
        "sum_segment_exact",
        (
            F.abs(F.col("est") - F.col("exact_total"))
            <= F.col("exact_total") * F.lit(0.05)
        ).alias("merged_within_5pct"),
    )


@query(
    "agg_listagg_within_group",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
           count(*) AS n_orders
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    tags=("aggregates", "listagg"),
)
def agg_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (Spark 4.0+): ordered string
    aggregation with DISTINCT — the SQL-standard face of the
    collect_list+sort_array convention used elsewhere in the registry
    (agg_collect_types_per_user). The WITHIN GROUP order clause is what
    makes the result deterministic under any partitioning; DuckDB's
    equivalent is string_agg(DISTINCT ... ORDER BY ...). Distinct +
    order compose per group after a map-side distinct expansion."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    joined.createOrReplaceTempView("she_listagg_src")
    return joined.sparkSession.sql(
        """
        SELECT c_mktsegment,
               listagg(DISTINCT o_orderpriority, '|')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               count(*) AS n_orders
        FROM she_listagg_src
        GROUP BY c_mktsegment
        """
    )


@query(
    "agg_mad_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(CAST(m.med_price AS DOUBLE), 6) AS med_price,
           round(CAST(quantile_cont(abs(l.l_extendedprice - m.med_price), 0.5)
                      AS DOUBLE), 6) AS mad_price
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.med_price
    """,
    tags=("aggregates", "robust"),
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    statistic (stddev breaks under the heavy-tailed/outlier-ridden
    columns real lakes have). Two-pass formulation: per-group exact
    interpolated median, joined back, then the median of absolute
    deviations — both passes shuffle on the SAME grouping key, so the
    second agg reuses the first's partitioning. Interpolated medians on
    identical doubles are identical arithmetic in both engines (the
    agg_percentiles row verified percentile == quantile_cont), so no
    fixed-point detour is needed; both engines spell the same
    quantile-of-abs-deviation chain. Neither engine's native mad()/
    median() is used: DuckDB's median is non-interpolating for even
    counts while its mad interpolates — spelling the chain explicitly
    sidesteps that asymmetry."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med_price_raw")
    )
    dev = li.join(med, "l_returnflag").select(
        "l_returnflag",
        "med_price_raw",
        F.abs(F.col("l_extendedprice") - F.col("med_price_raw")).alias("adev"),
    )
    return dev.groupBy("l_returnflag", "med_price_raw").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad_price")
    ).select(
        "l_returnflag",
        F.round(F.col("med_price_raw"), 6).alias("med_price"),
        "mad_price",
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, count(*) AS n,
           round(min(o_totalprice), 6) AS lo,
           round(max(o_totalprice), 6) AS hi
    FROM ranked GROUP BY bucket
    """,
    tags=("aggregates", "histogram"),
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (quantile buckets) — the complement of the
    equi-width row (agg_histogram_bins) and the shape CBO statistics
    collection actually uses: every bucket holds ~n/8 rows and the
    bucket BOUNDARIES carry the distribution (skew shows as narrow hot
    buckets, not empty cold ones). ntile over a totally-ordered window
    (price, orderkey tiebreak) assigns identical buckets in both
    engines because ntile is rank arithmetic, not value arithmetic.
    At 100 TB the global sort is the cost — production stats collectors
    switch to a mergeable quantile sketch (the agg_approx_percentile
    row) and keep this exact form for medium dimensions."""
    from pyspark.sql import Window  # noqa: PLC0415 — only histogram rows need it

    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_totalprice", F.ntile(8).over(w).alias("bucket")
    )
    return ranked.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 6).alias("lo"),
        F.round(F.max("o_totalprice"), 6).alias("hi"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("aggregates", "bitmap", "distinct"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 4's
    bitmap_bucket_number / bitmap_construct_agg / bitmap_count): ids
    hash to (bucket, bit) positions, each bucket folds to one 4 KB
    bitmap map-side, buckets merge associatively, and the count is the
    summed popcount — exact like count(DISTINCT) but MERGEABLE like a
    sketch, which is the property that matters at 100 TB: partial
    bitmaps combine across partitions/days without re-expanding rows
    (count DISTINCT's expand-and-dedup carries every distinct id
    through the shuffle; HLL merges but is approximate — bitmaps are
    the exact middle when the id domain is dense integers). The oracle
    is the plain count(DISTINCT): the bitmap path must be value-
    IDENTICAL, not approximately so."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (l_quantity > 25) AS n_bulk,
           count(*) FILTER (l_discount = 0) AS n_full_price,
           round(CAST(sum(CAST(floor(l_extendedprice * 1000000) AS BIGINT))
                 FILTER (l_tax > 0.04) AS DOUBLE) / 1000000, 6) AS rev_high_tax,
           CAST(count(DISTINCT l_suppkey) FILTER (l_linestatus = 'F')
                AS BIGINT) AS n_supp_finished
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregates", "sql"),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2003 aggregate FILTER clause — per-aggregate predicates
    in ONE pass over the fact (the idiom that replaces N self-joins or
    N CASE-wrapped sums with declared intent), including a filtered
    DISTINCT aggregate. Catalyst lowers every FILTER to a conditional
    update of that aggregate's buffer inside the same partial/final
    hash aggregate — one scan, one shuffle on the group key, however
    many filtered measures ride along; the filtered count-distinct adds
    the usual expand for distinct, nothing more. The filtered SUM uses
    the floor-µ convention so values hash exactly."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_all,
               count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               count(*) FILTER (WHERE l_discount = 0) AS n_full_price,
               round(CAST(sum(CAST(floor(l_extendedprice * 1000000) AS BIGINT))
                     FILTER (WHERE l_tax > 0.04) AS DOUBLE) / 1000000, 6)
                 AS rev_high_tax,
               CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F')
                    AS BIGINT) AS n_supp_finished
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


@query(
    "agg_rollup_grouping_id",
    oracle="""
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregates", "rollup"),
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators — the disambiguation the plain
    rollup row (agg_rollup_nation_region) cannot provide: a NULL in a
    grouping column is ambiguous between NULL-as-data and
    NULL-as-subtotal; GROUPING(col) returns 1 exactly for the subtotal
    rows, which is how BI layers render '(all)' labels correctly even
    over nullable dimensions. Both engines compute the indicator from
    the grouping-set id inside the same expanded aggregate — no second
    pass; the oracle is the shared-dialect text."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '(all)') AS status,
               coalesce(o_orderpriority, '(all)') AS priority,
               GROUPING(o_orderstatus) AS g_status,
               GROUPING(o_orderpriority) AS g_priority,
               count(*) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """
    )


@query(
    "agg_rollup_count_distinct",
    oracle="""
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           GROUPING(o_orderstatus) AS g,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus)
    """,
    tags=("aggregates", "rollup", "distinct"),
)
def agg_rollup_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) under ROLLUP — the combination with a real cost
    subtlety: distinct aggregation expands each input row once per
    grouping set (Expand), so a rollup over L levels multiplies the
    distinct-shuffle volume by L — and the subtotal's distinct count is
    NOT the sum of the leaves (customers span statuses), which is
    exactly why the engine can't reuse leaf partials and the dedicated
    expand exists. Shared-dialect text oracle; at 100 TB with many
    levels you trade this for per-level HLL sketches (agg_hll_merge)
    when ±2% is acceptable — this row certifies the exact path."""
    from streamline_hybrid_engine_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '(all)') AS status,
               GROUPING(o_orderstatus) AS g,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
               count(*) AS n_orders
        FROM orders
        GROUP BY ROLLUP (o_orderstatus)
        """
    )


# --- Market-basket co-occurrence (association pairs with lift) ---------------

_BASKET_ORACLE = """
    WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
                FROM lineitem JOIN part ON p_partkey = l_partkey),
         cnt AS (SELECT brand, count(*) AS n_brand FROM ob GROUP BY brand),
         tot AS (SELECT count(DISTINCT okey) AS n_orders FROM ob)
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           count(*) AS support,
           round(CAST(count(*) AS DOUBLE) * CAST(min(t.n_orders) AS DOUBLE)
                 / (CAST(min(ca.n_brand) AS DOUBLE)
                    * CAST(min(cb.n_brand) AS DOUBLE)), 6) AS lift
    FROM ob a
    JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    JOIN cnt ca ON ca.brand = a.brand
    JOIN cnt cb ON cb.brand = b.brand
    CROSS JOIN tot t
    GROUP BY a.brand, b.brand
    HAVING count(*) >= 3
"""


@query(
    "agg_market_basket_pairs",
    oracle=_BASKET_ORACLE,
    tags=("aggregate", "association"),
)
def agg_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence — the support/lift core of association
    mining (Apriori's first pass): brand pairs appearing in the same
    order, with lift = P(a,b) / (P(a)·P(b)). The DISTINCT (order, brand)
    projection BEFORE the self-join is the scale move: pairs per order
    are bounded by (distinct brands per order choose 2), never by
    (lineitems choose 2) — at 100 TB the self-join shuffles the
    deduplicated order×brand relation once on the order key, and both
    branches of the self-join reuse the same exchange (ReusedExchange,
    Catalyst's common-subplan dedup). Per-brand counts and the order
    total are dimension-sized broadcasts; lift's division runs on
    identical exact integers in both engines. The min-support HAVING
    (≥3) prunes the pair tail the way Apriori's support threshold
    does."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .repartition("okey")  # okey ⊆ {okey,brand}: satisfies the dedup's
        .dropDuplicates(["okey", "brand"])  # clustering AND the self-join's,
        # so the dedup, both self-join sides, cnt and tot all hang off ONE
        # canonical exchange (ReusedExchange — plan-pinned): one fact scan,
        # not four
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = a.join(
        b,
        (F.col("a.okey") == F.col("b.okey"))
        & (F.col("a.brand") < F.col("b.brand")),
    ).select(
        F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
    )
    cnt = ob.groupBy("brand").agg(F.count("*").alias("n_brand"))
    tot = ob.agg(F.countDistinct("okey").alias("n_orders"))
    sup = (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 3)
    )
    return (
        sup.join(
            F.broadcast(cnt.withColumnRenamed("brand", "brand_a").withColumnRenamed("n_brand", "na")),
            "brand_a",
        )
        .join(
            F.broadcast(cnt.withColumnRenamed("brand", "brand_b").withColumnRenamed("n_brand", "nb")),
            "brand_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "support",
            F.round(
                F.col("support").cast("double") * F.col("n_orders").cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# --- RFM customer segmentation ----------------------------------------------

_RFM_ANCHOR = "1998-08-01"

_RFM_ORACLE = f"""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '{_RFM_ANCHOR}') AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY recency_days, custkey) AS rn_r,
             row_number() OVER (ORDER BY frequency DESC, custkey) AS rn_f,
             row_number() OVER (ORDER BY monetary_cents DESC, custkey) AS rn_m,
             count(*) OVER () AS n
      FROM rfm
    )
    SELECT custkey, recency_days, frequency, monetary_cents,
           4 - CAST(floor((4.0 * (rn_r - 1)) / n) AS BIGINT) AS r_score,
           4 - CAST(floor((4.0 * (rn_f - 1)) / n) AS BIGINT) AS f_score,
           4 - CAST(floor((4.0 * (rn_m - 1)) / n) AS BIGINT) AS m_score
    FROM ranked
"""


@query(
    "agg_rfm_segments",
    oracle=_RFM_ORACLE,
    tags=("aggregate", "segmentation"),
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quartile scores
    per customer, the classic CRM segmentation (4 = best quartile).
    Quartiles are rank-based and exact: score = 4 - floor(4·(rank-1)/n)
    over a TOTAL order (metric, custkey tiebreak) — integer arithmetic,
    so both engines cut identically where ntile-on-ties or interpolated
    percentiles would flake. The base aggregate is one partial-agg
    groupBy of the fact by customer (exact integer cents).

    Scale note (docstring contract): the three ranking windows here are
    unpartitioned — fine for a dimension-sized RFM table (customers ≪
    facts; the window input is the AGGREGATE, never the fact), but at
    the point the customer dim itself outgrows one task, swap each
    window for the sampled-range-sort + zipWithIndex two-pass scheme of
    `rowid_zip_with_index` (same total order, distributed id
    assignment) — rank semantics identical."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate"))
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    w_r = Window.orderBy("recency_days", "custkey")
    w_f = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    w_m = Window.orderBy(F.desc("monetary_cents"), F.asc("custkey"))
    w_all = Window.partitionBy()
    ranked = rfm.select(
        "*",
        F.row_number().over(w_r).alias("rn_r"),
        F.row_number().over(w_f).alias("rn_f"),
        F.row_number().over(w_m).alias("rn_m"),
        F.count("*").over(w_all).alias("n"),
    )
    def score(rn):
        return F.lit(4) - F.floor(
            (4.0 * (F.col(rn) - 1)) / F.col("n")
        ).cast("long")
    return ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("rn_r").alias("r_score"),
        score("rn_f").alias("f_score"),
        score("rn_m").alias("m_score"),
    )


@query(
    "agg_rfm_segments_binned",
    oracle=_RFM_ORACLE,
    tags=("aggregate", "segmentation", "scale-valve"),
)
def agg_rfm_segments_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_rfm_segments' 100 TB relief valve, REALIZED (r10-verdict task
    4): the same oracle, the same exact quartile scores, with the three
    unpartitioned ranking windows replaced by three binned_rank passes —
    the shared primitive behind decile lift / corpus AUC / CCNet
    terciles. Each metric gets a bin key that is a monotone prefix of
    its total order (ties share a bin because the bin depends only on
    the metric):

    - recency  ASC:  bin = recency_days div 16 (days are bounded)
    - frequency DESC: bin = -frequency (small-int order count)
    - monetary DESC: bin = -(monetary_cents div 2^20) (~$10k cells)

    Every window in the plan partitions by a bin; the offset tables are
    bin-dimension-sized and broadcast. Three sequential exchanges of the
    CUSTOMER AGGREGATE (never the fact) replace three single-task global
    sorts — the biggest task becomes the largest bin. The oracle is
    deliberately the single-sort form: any offset fencepost or
    descending-bin sign error breaks the hash."""
    from streamline_hybrid_engine_spark.operators.ranks import binned_rank

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate"))
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    ).withColumns(
        {
            "bin_r": F.expr("recency_days div 16"),
            "bin_f": -F.col("frequency"),
            "bin_m": -F.expr("monetary_cents div 1048576"),
        }
    )
    ranked = binned_rank(
        rfm,
        "bin_r",
        ["recency_days", "custkey"],
        rank_col="rn_r",
        total_col="n",
    )
    ranked = binned_rank(
        ranked,
        "bin_f",
        [F.col("frequency").desc(), F.col("custkey")],
        rank_col="rn_f",
    )
    ranked = binned_rank(
        ranked,
        "bin_m",
        [F.col("monetary_cents").desc(), F.col("custkey")],
        rank_col="rn_m",
    )

    def score(rn):
        return F.lit(4) - F.floor(
            (4.0 * (F.col(rn) - 1)) / F.col("n")
        ).cast("long")

    return ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("rn_r").alias("r_score"),
        score("rn_f").alias("f_score"),
        score("rn_m").alias("m_score"),
    )


# --- Two-pass histogram-narrowed exact percentile ----------------------------

_NARROW_BUCKETS = 256

_PCTL_NARROW_ORACLE = """
    WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
         r AS (SELECT cents,
                      row_number() OVER (ORDER BY cents) AS rn,
                      count(*) OVER () AS cnt
               FROM c)
    SELECT 50 AS pct, CAST((cnt + 1) // 2 AS BIGINT) AS k, cents
    FROM r WHERE rn = (cnt + 1) // 2
    UNION ALL
    SELECT 95 AS pct, CAST((95 * cnt + 99) // 100 AS BIGINT) AS k, cents
    FROM r WHERE rn = (95 * cnt + 99) // 100
"""


@query(
    "agg_percentile_narrowed",
    oracle=_PCTL_NARROW_ORACLE,
    tags=("aggregate", "percentile"),
)
def agg_percentile_narrowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (p50/p95) by two-pass histogram narrowing — the
    100 TB path the single-sort percentile docstrings promise, realized
    and hash-verified against the direct global-rank oracle. Pass 1:
    one partial-agg groupBy into 256 equi-width buckets (bounded
    histogram to the driver — a dimension-sized lookup, same policy as
    AQE plan finalization); the cumulative histogram locates each
    target rank's bucket and its within-bucket offset. Pass 2 touches
    ONLY the two target buckets (a pushed-down range filter, ~1/256 of
    the data each), ranks within them, and reads the offset-th value.
    No global sort ever happens: the big data moves through hash
    aggregates; the only sort is over two bucket-sized slices. The
    rank-k value is deterministic under value ties in both passes
    (position-th smallest is tie-order invariant). The oracle is the
    single-window global-rank form — a genuinely different algorithm,
    so an off-by-one in the bucket/offset arithmetic breaks the
    hash."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    c = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    lo, hi, n = c.agg(F.min("cents"), F.max("cents"), F.count("*")).first()
    span = hi - lo + 1
    bucket = F.floor((F.col("cents") - lo) * _NARROW_BUCKETS / span).cast("int")
    hist = {
        r["b"]: r["cnt"]
        for r in c.groupBy(bucket.alias("b")).agg(F.count("*").alias("cnt")).collect()
    }
    targets = {50: (n + 1) // 2, 95: (95 * n + 99) // 100}
    locate = {}
    for pct, k in targets.items():
        cum = 0
        for b in range(_NARROW_BUCKETS):
            cnt = hist.get(b, 0)
            if cum + cnt >= k:
                locate[pct] = (b, k - cum)  # bucket, within-bucket offset
                break
            cum += cnt
    wanted = {b for b, _ in locate.values()}
    w = (
        Window.partitionBy("b")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        c.withColumn("b", bucket)
        .filter(F.col("b").isin(*wanted))
        .withColumn("cum", F.count("*").over(w))
    )
    out = None
    for pct, (b, off) in sorted(locate.items()):
        hit = (
            ranked.filter((F.col("b") == b) & (F.col("cum") >= off))
            .agg(F.min("cents").alias("cents"))
            .select(
                F.lit(pct).alias("pct"),
                F.lit(targets[pct]).cast("long").alias("k"),
                "cents",
            )
        )
        out = hit if out is None else out.unionAll(hit)
    return out


# --- Gini concentration index ------------------------------------------------

_GINI_ORACLE = """
    WITH x AS (
      SELECT n_name,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
    ),
    r AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents, o_orderkey) AS rk,
             count(*) OVER (PARTITION BY n_name) AS n,
             CAST(sum(cents) OVER (PARTITION BY n_name) AS HUGEINT) AS tot
      FROM x
    )
    SELECT n_name, CAST(min(n) AS BIGINT) AS n_orders,
           round((2.0 * CAST(sum(CAST(rk AS HUGEINT) * cents) AS DOUBLE))
                 / (CAST(min(n) AS DOUBLE) * CAST(min(tot) AS DOUBLE))
                 - (CAST(min(n) AS DOUBLE) + 1) / min(n), 6) AS gini
    FROM r GROUP BY n_name
"""


@query(
    "agg_gini_concentration",
    oracle=_GINI_ORACLE,
    tags=("aggregate", "inequality"),
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per nation — the
    inequality measure revenue-concentration audits use (and the same
    statistic that quantifies partition skew before a salting
    decision). Rank form: G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over values
    sorted ascending with a unique tiebreak. Σ(rank·x) is an exact
    integer (rank and cents are both ints; ties in value make the sum
    tie-order-INVARIANT: permuting equal values across adjacent ranks
    leaves Σrank·x unchanged), so the two divisions run on identical
    exact operands in both engines. One shuffle by nation, one
    per-nation sort shared by all three window frames, then a
    partial-agg groupBy on the same key — no extra exchange. At 100 TB
    the per-group sort distributes per nation; for a single whale
    group use the equi-depth-histogram approximation of the Lorenz
    curve instead (same SCALE path as the percentile family)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
    )
    w = Window.partitionBy("n_name").orderBy("cents", "o_orderkey")
    wp = Window.partitionBy("n_name")
    dec = "decimal(38,0)"
    r = x.select(
        "n_name",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wp).alias("n"),
        F.sum(F.col("cents").cast(dec)).over(wp).alias("tot"),
    )
    return r.groupBy("n_name").agg(
        F.min("n").cast("long").alias("n_orders"),
        F.round(
            (
                2.0
                * F.sum((F.col("rk").cast(dec) * F.col("cents")).cast(dec))
                .cast("double")
            )
            / (F.min("n").cast("double") * F.min("tot").cast("double"))
            - (F.min("n").cast("double") + 1) / F.min("n"),
            6,
        ).alias("gini"),
    )


# --- Pareto / revenue-concentration share --------------------------------------

_PARETO_ORACLE = """
    WITH rev AS (
      SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name, c_custkey
    ),
    r AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents DESC, c_custkey) AS rk,
             count(*) OVER (PARTITION BY n_name) AS n,
             CAST(sum(cents) OVER (PARTITION BY n_name) AS HUGEINT) AS tot
      FROM rev
    )
    SELECT n_name,
           CAST(min(n) AS BIGINT) AS n_cust,
           CAST(count(*) AS BIGINT) AS k_top,
           round(CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                 / CAST(min(tot) AS DOUBLE), 6) AS top_share
    FROM r
    WHERE rk <= CAST(floor((n + 4) / 5.0) AS BIGINT)
    GROUP BY n_name
"""


@query(
    "agg_pareto_topshare",
    oracle=_PARETO_ORACLE,
    tags=("aggregate", "inequality"),
)
def agg_pareto_topshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) check: revenue share captured by each nation's top
    20% of buying customers — the whale-concentration number every
    account-risk review wants next to the Gini. k = ceil(n/5) as exact
    integer arithmetic (floor((n+4)/5): n+4 < 2^53 so the double floor
    is exact in both engines); ranking ties break on c_custkey so the
    top-k SET is deterministic, and since ties in cents contribute the
    same sum either way, top_share is tie-order-invariant anyway. Plan:
    one groupBy (custkey) over the fact, one exchange on n_name shared
    by the ranking windows and the final aggregate — the same
    single-partitioning discipline as the Gini. At 100 TB the per-nation
    sort is the cost; if one group is a whale, the percentile-narrowing
    two-pass finds the k-th revenue cutoff first and only the head
    sorts."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("cents").desc(), F.col("c_custkey")
    )
    wp = Window.partitionBy("n_name")
    dec = "decimal(38,0)"
    r = rev.select(
        "n_name",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wp).alias("n"),
        F.sum(F.col("cents").cast(dec)).over(wp).alias("tot"),
    ).filter(
        F.col("rk") <= F.floor((F.col("n") + 4) / F.lit(5.0)).cast("long")
    )
    return r.groupBy("n_name").agg(
        F.min("n").cast("long").alias("n_cust"),
        F.count("*").alias("k_top"),
        F.round(
            F.sum(F.col("cents").cast(dec)).cast("double")
            / F.min("tot").cast("double"),
            6,
        ).alias("top_share"),
    )


# --- Decile lift table ----------------------------------------------------------

_LIFT_ORACLE = """
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_f,
             count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile,
             cents, n_f, n_orders,
             CAST(sum(n_f) OVER () AS BIGINT) AS tot_f,
             CAST(sum(n_orders) OVER () AS BIGINT) AS tot_orders
      FROM spend
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS decile_cents,
           round((CAST(sum(n_f) AS DOUBLE) / sum(n_orders))
                 / (CAST(min(tot_f) AS DOUBLE) / min(tot_orders)), 6)
             AS lift_f
    FROM d GROUP BY decile
"""


@query("agg_decile_lift", oracle=_LIFT_ORACLE, tags=("aggregate", "scoring"))
def agg_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the model-evaluation staple: rank customers
    by a score (here: total spend), cut into 10 equal ranks, and report
    each decile's rate of the target event ('F'-status orders) relative
    to the global rate. ntile is deterministic because the ordering is
    TOTAL (cents DESC, custkey) — the tiebreak is what makes the decile
    ASSIGNMENT engine-portable, not just the aggregate. All rates are
    ratios of exact integer counts, rounded once. Plan: one groupBy
    over orders, one global ntile sort (customer-count-sized — the
    already-reduced table, NOT the fact), final tiny groupBy. At 100 TB
    the global sort is the cost; the SCALE path is range-partitioned
    ntile (approx quantile cutpoints broadcast, map-side bucket), same
    as the percentile-narrowing family."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).cast("long").alias("n_f"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    wg = Window.partitionBy()
    dec = "decimal(38,0)"
    d = spend.select(
        F.ntile(10).over(w).alias("decile"),
        "cents",
        "n_f",
        "n_orders",
        F.sum("n_f").over(wg).cast("long").alias("tot_f"),
        F.sum("n_orders").over(wg).cast("long").alias("tot_orders"),
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n_cust"),
        F.sum(F.col("cents").cast(dec)).cast("long").alias("decile_cents"),
        # try_divide: a corpus with ZERO target events has global rate 0 —
        # DuckDB's x/0 is NULL, ANSI Spark throws; NULL lift is the shared
        # semantics (r9 fuzz find, same class as binary_auc's one-class fix)
        F.round(
            F.try_divide(
                F.sum("n_f").cast("double") / F.sum("n_orders"),
                F.min("tot_f").cast("double") / F.min("tot_orders"),
            ),
            6,
        ).alias("lift_f"),
    )


@query(
    "agg_histogram_log2_bins",
    oracle="""
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT flag, length(bin(cents)) - 1 AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(cents) AS lo_cents, max(cents) AS hi_cents
    FROM x GROUP BY flag, log2_bucket
    """,
    tags=("aggregate", "histogram"),
)
def agg_histogram_log2_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram (HdrHistogram's coarse face): bucket =
    floor(log2(cents)) computed as length(bin(x)) − 1 — INTEGER log2,
    the same libm-free trick as llm_surprisal_bits, so the bucket
    assignment cannot drift an ulp across engines the way
    floor(ln(x)/ln(2)) can. Log2 bins are the right exploratory
    histogram for heavy-tailed money/latency data where equi-width
    drowns the tail (agg_histogram_bins) and equi-depth hides it
    (agg_histogram_equidepth) — this completes the histogram triple.
    Pure map-side bucketing + one partial-agg groupBy; ~2×25 output
    rows from any input size."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return (
        x.withColumn("log2_bucket", F.length(F.bin(F.col("cents"))) - 1)
        .groupBy("flag", "log2_bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@query(
    "agg_event_type_bitmask",
    oracle="""
    WITH m AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
             bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                    WHEN 'view' THEN 16 ELSE 0 END) AS mask
      FROM events GROUP BY user_id, d
    )
    SELECT mask, CAST(count(*) AS BIGINT) AS n_user_days,
           CASE WHEN mask & 4 > 0 THEN 1 ELSE 0 END AS has_purchase,
           CASE WHEN mask & 2 > 0 THEN 1 ELSE 0 END AS has_error
    FROM m GROUP BY mask
    """,
    tags=("aggregate", "bitwise"),
)
def agg_event_type_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-set profile as a BITMASK: per user, bit_or the event
    types seen that DAY (5 types → 5 bits), then count user-days per
    combination — the 2⁵-row segmentation matrix ('purchased but also
    errored', 'viewed only', …) that an array_agg-based approach would
    need a set-valued groupBy for. bit_or is associative and
    partition-order-independent, so the two-phase aggregate is exactly
    deterministic; membership decodes map-side with & — the same
    trick agg_bitmap_distinct uses at word granularity. Two partial-agg
    groupBys, 32-row output from any input size."""
    from streamline_hybrid_engine_spark.functions.bundles import (
        EVENT_TYPE_BITS,
    )

    ev = load_table(spark, sf_dir, "events")
    bit = F.lit(0)
    for t, b in EVENT_TYPE_BITS.items():
        bit = F.when(F.col("event_type") == t, b).otherwise(bit)
    m = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.bit_or(bit).alias("mask"))
    return (
        m.groupBy("mask")
        .agg(F.count("*").alias("n_user_days"))
        .select(
            "mask",
            "n_user_days",
            F.when(F.col("mask").bitwiseAND(4) > 0, 1)
            .otherwise(0)
            .alias("has_purchase"),
            F.when(F.col("mask").bitwiseAND(2) > 0, 1)
            .otherwise(0)
            .alias("has_error"),
        )
    )


@query(
    "agg_rate_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name
    )
    SELECT n_name, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS rate,
           round(((CAST(k AS DOUBLE) / n) + 3.8416 / (2 * n)
                  - 1.96 * sqrt(((CAST(k AS DOUBLE) / n)
                                 * (1 - CAST(k AS DOUBLE) / n)
                                 + 3.8416 / (4 * n)) / n))
                 / (1 + 3.8416 / n), 6) AS wilson_low,
           round(((CAST(k AS DOUBLE) / n) + 3.8416 / (2 * n)
                  + 1.96 * sqrt(((CAST(k AS DOUBLE) / n)
                                 * (1 - CAST(k AS DOUBLE) / n)
                                 + 3.8416 / (4 * n)) / n))
                 / (1 + 3.8416 / n), 6) AS wilson_high
    FROM s
    """,
    tags=("aggregate", "statistics"),
)
def agg_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for a per-group rate ('F'-status share per
    nation) — the CI every metrics review should show next to a
    conversion rate, and the one that stays inside [0,1] at small n
    where the naive normal interval doesn't. Deterministic cross-engine
    because the inputs are exact integers (k, n), z and z² are literal
    constants (1.96 / 3.8416), the expression tree is written
    IDENTICALLY on both sides, and sqrt is the one correctly-rounded
    transcendental (same argument → same IEEE result — the win_zscore
    rule). One partial-agg groupBy; 25-row output."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    n, k = F.col("n"), F.col("k")
    p = k.cast("double") / n
    z, z2 = 1.96, 3.8416
    center = p + z2 / (2 * n)
    margin = z * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
    denom = 1 + z2 / n
    return s.select(
        "n_name",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    )


@query(
    "agg_skyline_2d",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    ranked AS (
      SELECT p_partkey, price_cents, size,
             max(size) OVER (ORDER BY price_cents
                             RANGE BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_size_cheaper,
             max(size) OVER (PARTITION BY price_cents) AS best_at_price
      FROM pts
    )
    SELECT p_partkey, price_cents, size
    FROM ranked
    WHERE (best_size_cheaper IS NULL OR size > best_size_cheaper)
      AND size = best_at_price
    """,
    tags=("aggregate", "skyline"),
)
def agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): parts not dominated on
    (price low, size high) — the classic Börzsönyi SKYLINE operator,
    which in two dimensions needs NO pairwise comparison: one window
    pass over the price ordering. Tie discipline matters and the
    property fuzzer is what got it right: a VALUE-RANGE frame
    (RANGE … 1 PRECEDING) supplies the max size over STRICTLY cheaper
    rows (a ROWS frame would leak equal-price predecessors in and a
    naive version of this op shipped with exactly that bug — caught by
    test_skyline_window_matches_bruteforce_dominance against the O(n²)
    dominance definition), and a second per-price frame drops rows
    beaten by an equal-price sibling. Survives: size > every cheaper
    size AND size == the equal-price max — precisely non-dominated
    under (x2 ≤ x, y2 ≥ y, one strict). Exact integer cents/size. The
    global sort
    is the honest 2-D cost; at 100 TB pre-filter with a grid skyline
    (per-cell local skylines, then the global pass over survivors) —
    same relief-valve shape as the percentile family."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    w = Window.orderBy("price_cents").rangeBetween(
        Window.unboundedPreceding, -1
    )
    wp = Window.partitionBy("price_cents")
    ranked = pts.withColumn(
        "best_size_cheaper", F.max("size").over(w)
    ).withColumn("best_at_price", F.max("size").over(wp))
    return ranked.filter(
        (
            F.col("best_size_cheaper").isNull()
            | (F.col("size") > F.col("best_size_cheaper"))
        )
        & (F.col("size") == F.col("best_at_price"))
    ).select("p_partkey", "price_cents", "size")


@query(
    "agg_simpson_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(1.0 - CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS DOUBLE)
                 / (CAST(sum(n) AS DOUBLE) * (sum(n) - 1)), 6)
             AS simpson_diversity
    FROM c GROUP BY user_id HAVING sum(n) >= 2
    """,
    tags=("aggregate", "diversity"),
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index per user: 1 − Σnᵢ(nᵢ−1)/(N(N−1)) — the
    probability two random events from the user differ in type. The
    CATEGORICAL concentration measure next to the Gini's numeric one
    (a user can have perfectly equal spend yet do only one thing);
    behavioral segmentation and bot triage read it directly. The whole
    statistic is one division of exact integer sums (the unbiased
    finite-sample form, not the p² approximation — no per-type float
    shares to drift). Two stacked partial-agg groupBys on the same
    user key; single-event users excluded (the index is undefined),
    not emitted as NaN."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    dec = "decimal(38,0)"
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count("*").alias("n_types"),
            F.sum((F.col("n").cast(dec) * (F.col("n") - 1)).cast(dec))
            .cast("double")
            .alias("pairs_same"),
        )
        .filter(F.col("n_events") >= 2)
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.round(
                1.0
                - F.col("pairs_same")
                / (
                    F.col("n_events").cast("double")
                    * (F.col("n_events") - 1)
                ),
                6,
            ).alias("simpson_diversity"),
        )
    )


@query(
    "agg_hhi_index",
    oracle="""
    WITH rev AS (
      SELECT n_name, s_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, s_suppkey
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(10000.0 * CAST(sum(CAST(cents AS HUGEINT) * cents)
                                AS DOUBLE)
                 / (CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                    * CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)), 6)
             AS hhi
    FROM rev GROUP BY n_name
    """,
    tags=("aggregate", "inequality"),
)
def agg_hhi_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration per
    nation market, on the antitrust 0–10000 scale — completes the
    concentration quartet (Gini: numeric inequality; Pareto: top-k
    share; Simpson: categorical diversity; HHI: squared-share market
    power, the one regulators threshold at 1500/2500). HHI =
    10⁴·Σxᵢ²/(Σxᵢ)² — both sums are exact 128-bit integers, one final
    division. One supplier rollup + one nation aggregate, both
    partial-agg; the nation groupBy reuses nothing fact-sized."""
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    sup = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nt), sup.s_nationkey == nt.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    dec = "decimal(38,0)"
    return rev.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.round(
            10000.0
            * F.sum((F.col("cents").cast(dec) * F.col("cents")).cast(dec))
            .cast("double")
            / (
                F.sum(F.col("cents").cast(dec)).cast("double")
                * F.sum(F.col("cents").cast(dec)).cast("double")
            ),
            6,
        ).alias("hhi"),
    )


@query(
    "agg_target_encode_loo",
    oracle="""
    WITH x AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS tot
      FROM x GROUP BY cat
    )
    SELECT x.o_orderkey, x.cat,
           CAST(CASE WHEN g.n > 1
                THEN floor((CAST(g.tot AS DOUBLE) - x.cents) / (g.n - 1))
                END AS BIGINT) AS loo_mean_cents
    FROM x JOIN g ON g.cat = x.cat
    """,
    tags=("aggregate", "ml-prep"),
)
def agg_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category feature is
    the mean target of ITS CATEGORY EXCLUDING ITSELF — the
    leakage-safe variant (plain mean encoding leaks each row's own
    label into its feature; LOO is the standard fix every gradient-
    boosting pipeline ships). Shape: category stats reduce in one
    partial-agg groupBy (|categories| rows), broadcast back, and the
    exclusion is map-side arithmetic on exact integers —
    floor((tot − own)/(n−1)) — identical in both engines; the raw
    rows never shuffle (the window-per-category alternative sorts
    them). Singleton categories yield NULL, not a division by zero."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dec = "decimal(38,0)"
    g = x.groupBy("cat").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(dec)).cast("long").alias("tot"),
    )
    j = x.join(F.broadcast(g), "cat")
    return j.select(
        "o_orderkey",
        "cat",
        F.when(
            F.col("n") > 1,
            F.floor(
                (F.col("tot").cast("double") - F.col("cents"))
                / (F.col("n") - 1)
            ),
        )
        .cast("long")
        .alias("loo_mean_cents"),
    )


@query(
    "agg_ab_test_ztest",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS STRING)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS conv
      FROM orders
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS k2
      FROM assigned
    )
    SELECT n1, k1, n2, k2,
           round(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2, 6)
             AS rate_diff,
           round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
                 / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                        * (1 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_score
    FROM s
    """,
    tags=("aggregate", "statistics"),
)
def agg_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation primitive: orders
    hash-assigned to arms A/B (the md5-bucket assignment
    llm_train_split_hash certifies: content-stable, re-run-identical —
    never rand()), conversion = 'F' status, pooled-variance z. All
    counts exact integers; the z expression is written identically in
    both engines (divisions of identical operands, one
    correctly-rounded sqrt — the Wilson-CI discipline). On a real
    experiment the same one-pass conditional-count shape computes any
    number of arms; the null-hypothesis z here hovers near 0, which is
    itself the A/A-test sanity check experimentation platforms run
    first."""
    o = load_table(spark, sf_dir, "orders")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    conv = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    s = o.select(arm.alias("arm"), conv.alias("conv")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == "A", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("arm") == "B", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    pp = (F.col("k1") + F.col("k2")).cast("double") / (F.col("n1") + F.col("n2"))
    return s.select(
        "n1",
        "k1",
        "n2",
        "k2",
        F.round(p1 - p2, 6).alias("rate_diff"),
        F.round(
            (p1 - p2)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
            6,
        ).alias("z_score"),
    )


def skyline_grid(
    pts: DataFrame, x_col: str, y_col: str, n_cells: int = 16
) -> DataFrame:
    """Library primitive (r8 pass 4): grid-partitioned 2-D skyline
    (minimize ``x_col``, maximize ``y_col``) — the scale form behind
    agg_skyline_grid, on ANY DataFrame. Points split into ``n_cells``
    x-range cells; each cell computes its LOCAL skyline with the
    two-frame window (independent sorts — no global sort), then one
    metadata-sized cross-cell pass keeps a local survivor iff it beats
    the best y of all strictly-cheaper cells. Returns the surviving rows
    with pts' columns. Input must not already carry columns named
    lo/hi/cell/best_cheaper_local/best_at_price/best_prior_cells.
    Fuzz-pinned against the O(n²) dominance definition AND the
    single-sort window form (tests/test_property_differential.py).

    ``x_col`` MUST be integral (enforced): the strictly-cheaper frame is
    rangeBetween(unboundedPreceding, -1), and "-1" only means "strictly
    cheaper" when x values are whole — a decimal x with fractional
    values would silently exclude cheaper points within 1 unit
    (r8 advice item 3). Encode fractional prices as fixed-point ints
    first (the cents convention used across the repo)."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    xt = pts.schema[x_col].dataType
    if not isinstance(xt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"skyline_grid: x_col {x_col!r} must be an integral type "
            f"(got {xt.simpleString()}); encode fractional values as "
            "fixed-point integers (e.g. cents) first — the strictly-"
            "cheaper window frame is only exact on whole numbers"
        )

    x, y = F.col(x_col), F.col(y_col)
    lo_hi = pts.agg(F.min(x_col).alias("lo"), F.max(x_col).alias("hi"))
    cells = pts.crossJoin(F.broadcast(lo_hi)).withColumn(
        "cell",
        F.least(
            F.expr(
                f"({x_col} - lo) * {n_cells} div greatest(hi - lo + 1, 1)"
            ),
            F.lit(n_cells - 1).cast("long"),
        ),
    )
    wc = (
        Window.partitionBy("cell")
        .orderBy(x_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wp = Window.partitionBy("cell", x_col)
    local = (
        cells.withColumn("best_cheaper_local", F.max(y_col).over(wc))
        .withColumn("best_at_price", F.max(y_col).over(wp))
        .filter(
            (
                F.col("best_cheaper_local").isNull()
                | (y > F.col("best_cheaper_local"))
            )
            & (y == F.col("best_at_price"))
        )
    )
    cell_best = local.groupBy("cell").agg(F.max(y_col).alias("cell_max"))
    w_run = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    cell_prior = cell_best.select(
        "cell", F.max("cell_max").over(w_run).alias("best_prior_cells")
    )
    out = local.join(F.broadcast(cell_prior), "cell").filter(
        F.col("best_prior_cells").isNull()
        | (y > F.col("best_prior_cells"))
    )
    return out.select(*pts.columns)


@query(
    "agg_skyline_grid",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    ranked AS (
      SELECT p_partkey, price_cents, size,
             max(size) OVER (ORDER BY price_cents
                             RANGE BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS best_size_cheaper,
             max(size) OVER (PARTITION BY price_cents) AS best_at_price
      FROM pts
    )
    SELECT p_partkey, price_cents, size
    FROM ranked
    WHERE (best_size_cheaper IS NULL OR size > best_size_cheaper)
      AND size = best_at_price
    """,
    tags=("aggregate", "skyline"),
)
def agg_skyline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID skyline — the SCALE.md relief valve for agg_skyline_2d,
    REALIZED (not just promised): partition points into price-range
    cells, compute each cell's LOCAL skyline with the same two-frame
    window (cells sort independently — the global sort is gone), then
    one global pass over the survivors (2-D local skylines are
    near-logarithmic per cell, so the second pass is metadata-sized).
    A candidate survives globally iff it beats the best size of all
    STRICTLY CHEAPER cells too — the cross-cell check the local pass
    cannot see. The ORACLE is deliberately the single-sort window form
    (agg_skyline_2d's) — a genuinely different algorithm, so any
    cell-boundary fencepost breaks the hash; the same adversarial
    pairing as percentile narrowing vs global rank. Partitioned skyline
    lives in the exported :func:`skyline_grid` primitive (library
    pass 4)."""
    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return skyline_grid(pts, "price_cents", "size", n_cells=16)


@query(
    "agg_decile_lift_binned",
    oracle=_LIFT_ORACLE,
    tags=("aggregate", "scoring"),
)
def agg_decile_lift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_decile_lift's 100 TB relief valve, REALIZED (the skyline_grid
    move): EXACT ntile(10) semantics without the single global sort.
    Phase 1 bins customers into 1024 spend-range cells (bin key depends
    only on cents, so ties never straddle bins) and takes per-bin counts
    — a cell-sized table whose running sum gives each bin's global rank
    OFFSET, broadcast back. Phase 2 sorts WITHIN bins only
    (window partitioned by bin: local row_number + offset = exact global
    rank under the total order (cents DESC, custkey)), then converts
    rank → decile with ntile's own arithmetic (first n%10 buckets get
    ceil(n/10)). The biggest task is the largest bin, not the whole
    table — same decomposition story as the grid skyline, and like it
    the ORACLE is deliberately the single-sort ntile form: any rank
    fencepost (bin boundary, offset off-by-one, ceil arithmetic) breaks
    the hash."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).cast("long").alias("n_f"),
        F.count("*").alias("n_orders"),
    )
    lo_hi = spend.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = spend.crossJoin(F.broadcast(lo_hi)).withColumn(
        "bin",
        # descending-order bins: bin 0 holds the HIGHEST spenders so the
        # running offset accumulates in rank order
        F.least(
            F.expr("(hi - cents) * 1024 div greatest(hi - lo + 1, 1)"),
            F.lit(1023).cast("long"),
        ),
    )
    # shared binned-offset primitive (r11): descending-bin key is a
    # monotone prefix of (cents DESC, custkey), so the per-bin row_number
    # plus the broadcast offset IS the exact global rank
    from streamline_hybrid_engine_spark.operators.ranks import (
        binned_rank,
        ntile_from_rank,
    )

    ranked = binned_rank(
        binned,
        "bin",
        [F.col("cents").desc(), F.col("o_custkey")],
        rank_col="r",
        total_col="n_total",
    ).withColumn("decile", ntile_from_rank("r", "n_total", 10).cast("int"))
    tot = spend.agg(
        F.sum("n_f").cast("long").alias("tot_f"),
        F.sum("n_orders").cast("long").alias("tot_orders"),
    )
    dec = "decimal(38,0)"
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("cents").cast(dec)).cast("long").alias("decile_cents"),
            F.sum("n_f").cast("long").alias("d_f"),
            F.sum("n_orders").cast("long").alias("d_orders"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            "decile_cents",
            # try_divide: zero-target-event corpus → global rate 0 → NULL
            # lift on both engines (r9 fuzz find, see agg_decile_lift)
            F.round(
                F.try_divide(
                    F.col("d_f").cast("double") / F.col("d_orders"),
                    F.col("tot_f").cast("double") / F.col("tot_orders"),
                ),
                6,
            ).alias("lift_f"),
        )
    )


# --- r9: Poisson-bootstrap confidence intervals --------------------------------

#: resample count for the bootstrap CI. 200 makes the 2.5% / 97.5%
#: percentile ranks exact integers (5 and 196) — no interpolation to
#: disagree about across engines.
BOOT_B = 200

#: cumulative Poisson(1) probabilities as EXACT 48-bit integer
#: thresholds (round(cdf_k · 2^48), k = 0..6; P(w > 7) < 1e-5 → weights
#: cap at 7). Comparing the 48-bit hash against integer literals keeps
#: the weight assignment pure integer arithmetic — no engine ever
#: evaluates exp(−1) at query time.
_POIS1_T48 = (
    103548857136061,   # P(0) = e⁻¹
    207097714272122,   # + P(1)
    258872142840152,   # + P(2)
    276130285696162,   # + P(3)
    280444821410165,   # + P(4)
    281307728552965,   # + P(5)
    281451546410099,   # + P(6)
)


def _pois_weight_sql(u: str) -> str:
    """CASE ladder mapping a 48-bit uniform to a Poisson(1) weight —
    shared text for both engines (pure integer comparisons)."""
    return (
        "CASE "
        + " ".join(
            f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_T48)
        )
        + " ELSE 7 END"
    )


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    pt AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
             CAST((sum(cents)::HUGEINT * 1000000)
                  // count(*) AS BIGINT) AS mean_micro
      FROM base GROUP BY grp
    ),
    seeded AS (
      SELECT grp, cents,
             ('0x' || substr(md5('bootA|' || CAST(o_orderkey AS VARCHAR)),
                             1, 12))::BIGINT AS sa,
             (('0x' || substr(md5('bootC|' || CAST(o_orderkey AS VARCHAR)),
                              1, 12))::BIGINT | 1) AS sc
      FROM base
    ),
    w AS (
      SELECT grp, b.b,
             {_pois_weight_sql("((sa + b.b * sc) % 281474976710656)")} AS wt,
             cents
      FROM seeded CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b) b
    ),
    means AS (
      SELECT grp, b,
             CAST((sum(wt::HUGEINT * cents) * 1000000)
                  // greatest(sum(wt::HUGEINT), 1) AS BIGINT) AS m
      FROM w GROUP BY grp, b
    ),
    ranked AS (
      SELECT grp, m,
             row_number() OVER (PARTITION BY grp ORDER BY m, b) AS rnk
      FROM means
    )
    SELECT p.grp, p.n_rows, p.mean_micro,
           max(CASE WHEN r.rnk = 5 THEN r.m END) AS boot_lo_micro,
           max(CASE WHEN r.rnk = 196 THEN r.m END) AS boot_hi_micro
    FROM pt p JOIN ranked r ON r.grp = p.grp
    GROUP BY p.grp, p.n_rows, p.mean_micro
    """,
    tags=("aggregate", "statistics"),
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean order
    value per priority — THE scale technique for uncertainty
    quantification (online A/B platforms bootstrap this way because
    classic resample-n-with-replacement needs the whole sample on one
    machine; Poisson(1) weights make every resample a single weighted
    pass, embarrassingly parallel). Determinism discipline: each row
    draws TWO 48-bit md5 seeds once (sa, sc|1), and resample b's
    uniform is the affine stream (sa + b·sc) mod 2^48 — compared
    against PRECOMPUTED integer thresholds round(PoissonCDF(k)·2^48).
    No rand(), no runtime exp(), the same resamples on every engine,
    partitioning and run (the llm_train_split_hash argument, applied
    to statistics) — and hashing cost is per ROW, not per (row, b),
    in the compiled plan too: the B-way expansion is a Generate over
    the constant array [0, B), whose codegen evaluates the seeds once
    per input row before its per-element loop. (A crossJoin with a
    broadcast B-row table did not: codegen deferred the seed
    projection into the nested-loop join's inner loop and ran both
    md5s once per (row, b) pair.) Independence story: ACROSS rows the
    streams are independent md5 seeds (that is where bootstrap
    exchangeability lives); within a row the B drawn weights ride an
    odd-stride arithmetic progression mod 2^48 — equidistributed, and
    each lands in a different resample. Resample means are exact
    floored micros over exact integer cents; the CI bounds are the
    rank-5 and rank-196 order statistics of the B = 200 means (exact
    integer ranks — B chosen so 2.5%/97.5% need no interpolation),
    tie-broken by resample id.
    Plan: one fact scan whose rows each explode into B resample rows,
    ONE map-side-combined groupBy to |groups|×B cells, then windows
    over metadata-sized tables; the fact is never shuffled wider than
    its (group, b) partial aggregate. At 100 TB the B multiplier rides
    the scan (map-side), not the shuffle."""
    from pyspark.sql import Window

    # parallel=True: the B-way expansion multiplies per-partition work
    # 200×, so a single-file single-partition scan would run the whole
    # 30M-row pipeline on ONE core (measured: 60 s vs ~2 s split)
    orders = load_table(spark, sf_dir, "orders", parallel=True)
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    pt = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr(
            "CAST((sum(CAST(cents AS DECIMAL(38,0))) * 1000000)"
            " div count(*) AS BIGINT)"
        ).alias("mean_micro"),
    )
    seeded = base.select(
        "grp",
        "cents",
        F.expr(
            "cast(conv(substr(md5(concat('bootA|',"
            " cast(o_orderkey as string))), 1, 12), 16, 10) as bigint)"
        ).alias("sa"),
        F.expr(
            "cast(conv(substr(md5(concat('bootC|',"
            " cast(o_orderkey as string))), 1, 12), 16, 10) as bigint) | 1"
        ).alias("sc"),
    )
    w = seeded.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1)))
    ).select(
        "grp",
        "b",
        F.expr(
            _pois_weight_sql("pmod(sa + b * sc, 281474976710656)")
        ).alias("wt"),
        "cents",
    )
    # Hot partial aggregate (|rows|·B updates): all-LONG per-row work.
    # wt·cents is exact in long (wt ≤ 7, cents ≤ ~6e7 ⇒ product ≤ 4.2e8);
    # summing it split into hi/lo long parts (div/mod 2^20, both operands
    # non-negative) keeps every per-row op on the compact-long path:
    # s_lo ≤ (2^20−1)·n and s_hi ≤ 401·n both fit int64 to n ≈ 8.8e12 rows
    # per (grp,b) cell — ~250-300× above the ~3e10 rows/cell of the 100 TB
    # shape — and s_hi·2^20 + s_lo == sum(wt·cents) exactly, recombined in
    # decimal once per CELL (|groups|·B rows), not per row. The previous
    # form summed CAST(wt AS DECIMAL(38,0))·cents: decimal(38,0) buffers
    # are BigDecimal-backed, so every one of the 30M updates paid a
    # BigDecimal multiply + two adds (bench: 116 busy-cpu-s/run; clean
    # interleaved A/B median 3.32 s → 2.87 s, identical 5-row output).
    means = (
        w.groupBy("grp", "b")
        .agg(
            F.expr("sum((wt * cents) div 1048576)").alias("s_hi"),
            F.expr("sum((wt * cents) % 1048576)").alias("s_lo"),
            F.expr("sum(cast(wt as bigint))").alias("s_w"),
        )
        .select(
            "grp",
            "b",
            F.expr(
                "CAST(((CAST(s_hi AS DECIMAL(38,0)) * 1048576 + s_lo)"
                " * 1000000) div greatest(s_w, 1) AS BIGINT)"
            ).alias("m"),
        )
    )
    rw = Window.partitionBy("grp").orderBy("m", "b")
    ranked = means.withColumn("rnk", F.row_number().over(rw))
    ci = ranked.groupBy("grp").agg(
        F.max(F.when(F.col("rnk") == 5, F.col("m"))).alias("boot_lo_micro"),
        F.max(F.when(F.col("rnk") == 196, F.col("m"))).alias("boot_hi_micro"),
    )
    return pt.join(ci, "grp").select(
        "grp", "n_rows", "mean_micro", "boot_lo_micro", "boot_hi_micro"
    )
