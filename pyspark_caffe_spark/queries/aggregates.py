"""Aggregation operators — SURVEY.md §2.4.

All groupBys here are hash aggregations with map-side partial
aggregation (Spark does partial+final automatically), so shuffle
volume is |groups|, not |rows| — the property that keeps these viable
at 100 TB. Double-valued aggregates are rounded IN-QUERY on both the
Spark and oracle side: summation order differs across engines, so raw
last-bit equality is not achievable and rounding to 4 decimals makes
the comparison exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_caffe_spark.money import exact_money_sum
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.tables import load_table, row_count

#: Exclusive end of the date range the stored-sketch range queries read
#: (the oracles spell it as ``TIMESTAMP '2024-01-16'``).
_RANGE_END = "2024-01-16"


def _within_5pct(est: Column, exact: Column, slack: float = 0.0) -> Column:
    """The sketch keys' in-plan accuracy flag:
    ``|est − exact| ≤ 0.05·exact + slack``.  The oracles emit literal
    ``true``, so an estimate out of bound flips a hashed value."""
    return F.abs(est - exact) <= F.lit(0.05) * exact + F.lit(slack)


def _stored_sketches(daily: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """Write the daily sketch rows once to the scratch parquet ``name``
    (one per scale factor) and read them back, so a range query scans
    the stored sketches, never the event stream."""
    from pyspark_caffe_spark.queries.relational import _scratch

    path = _scratch(name, sf_dir)
    daily.write.mode("overwrite").parquet(path)
    return daily.sparkSession.read.parquet(path)


def _theta_overlap(ev: DataFrame, sketches: DataFrame) -> DataFrame:
    """Pairwise audience overlap of the event types in ``ev``.

    The exact counts (``n_a``, ``n_b``, ``n_intersect``, ``n_union``)
    come from a self-join of the distinct (user, type) pairs,
    affordable because |users|·|types| ≪ |events|.  ``est_within_bound``
    checks the theta intersection and union estimates of the per-type
    ``sketches`` (``event_type``, ``sk``) against them: exact below the
    sketch's 4096-entry exact mode, within ±5 % (+1 absolute) in
    estimation mode (these audiences overlap heavily, so the
    intersection's relative error stays near the union's
    RSE ≈ 1/√4096)."""
    ut = ev.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    ix = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_intersect"))
    )
    ests = (
        sketches.alias("sa")
        .join(
            F.broadcast(sketches.alias("sb")),
            F.col("sa.event_type") < F.col("sb.event_type"),
        )
        .select(
            F.col("sa.event_type").alias("type_a"),
            F.col("sb.event_type").alias("type_b"),
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("sa.sk"), F.col("sb.sk"))
            ).alias("est_i"),
            F.theta_sketch_estimate(
                F.theta_union(F.col("sa.sk"), F.col("sb.sk"))
            ).alias("est_u"),
        )
    )
    exact = (
        ix.join(tc.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")), "type_a")
        .join(tc.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")), "type_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_intersect"))
    )
    return exact.join(F.broadcast(ests), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_intersect",
        "n_union",
        (
            _within_5pct(F.col("est_i"), F.col("n_intersect"), 1.0)
            & _within_5pct(F.col("est_u"), F.col("n_union"), 1.0)
        ).alias("est_within_bound"),
    )


def _kll_rank_proof(
    rows: DataFrame, key: str, val: str, sketches: DataFrame, ps: tuple[float, ...]
) -> DataFrame:
    """``(key, n, p<NN>_rank_ok ...)`` for each p in ``ps``.

    The p-quantile of each group's KLL sketch in ``sketches`` (``key``,
    ``sk``) is broadcast back onto ``rows``; one conditional-count pass
    gives its TRUE rank in the group's ``val`` column, and the flag is
    ``|rank − p| ≤ 0.025``.  KLL bounds rank, not value: at Spark's
    default k=200 the normalized rank error is ≈1.65 %."""
    names = [f"q{round(p * 100)}" for p in ps]
    qs = sketches.select(
        key,
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p)).alias(q)
            for p, q in zip(ps, names)
        ],
    )
    ranks = rows.select(key, val).join(F.broadcast(qs), key).groupBy(key).agg(
        F.count("*").alias("n"),
        *[F.sum((F.col(val) <= F.col(q)).cast("long")).alias(f"le_{q}") for q in names],
    )
    return ranks.select(
        key,
        "n",
        *[
            (F.abs(F.col(f"le_{q}") / F.col("n") - F.lit(p)) <= F.lit(0.025)).alias(
                f"p{q[1:]}_rank_ok"
            )
            for p, q in zip(ps, names)
        ],
    )


@query(
    "agg_hash_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18, 4))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18, 4))) AS DOUBLE)                 AS sum_disc_price,
           ROUND(AVG(l_quantity), 6)                                  AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                             AS avg_price,
           ROUND(AVG(l_discount), 6)                                  AS avg_disc,
           COUNT(*)                                                   AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter → 2-key hash agg.

    The flagship query. Partial aggregation reduces 600k (→ billions)
    rows to 6 groups before the shuffle; the date filter is pushed to
    the parquet scan.

    The monetary sums are EXACT and order-independent: each value
    lives on the 4-decimal grid (quantities integral, prices 2dp,
    price×(1−disc) exactly 4dp), so it is summed as LONG
    ten-thousandths via money.exact_money_sum — the same value as the
    round-8 per-row DECIMAL(18,4) spelling (which the 100× parity
    sweep demanded after double sums diverged in the 4th decimal at
    ~3e11 magnitudes), without the per-row BigDecimal.add that made
    the decimal spelling 1.9× slower (BENCH_r08 1.04 s vs r07
    0.55 s).  The hi/lo radix split inside exact_money_sum keeps the
    long sums exact to ~9e13 rows per group — see money.py.  The
    averages stay double: their magnitude keeps the order-dependent
    error ~10 digits below the 6dp rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_money_sum(F.col("l_quantity"), "sum_qty"),
            exact_money_sum(F.col("l_extendedprice"), "sum_base_price"),
            exact_money_sum(disc_price, "sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_orderkey % 10 AS bucket,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem
    GROUP BY l_orderkey % 10
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct aggregation (expands to two shuffles via
    Catalyst's expand-based rewrite)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact, true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (rsd=1%).

    THE scale path for distinct counts: the sketch is mergeable, so the
    shuffle carries one ~kB sketch per group instead of every value —
    exact countDistinct at 100 TB shuffles the whole key set.

    Invariant-literal oracle: the raw estimate is sketch-specific, so
    the checked columns are the exact distinct count plus an IN-PLAN
    accuracy flag (|approx − exact| ≤ 5%·exact; rsd=1% leaves 5×
    headroom). The oracle emits literal ``true`` — an out-of-tolerance
    estimate flips the boolean and fails the driver's value hash."""
    ev = load_table(spark, sf_dir, "events")
    est = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "n_users_exact",
        _within_5pct(F.col("approx_users"), F.col("n_users_exact")).alias("within_tol"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18, 4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — subtotals + grand total in one pass (Expand operator
    replicates each row per grouping set before the hash agg).

    Revenue is exact-summed as LONG ten-thousandths
    (money.exact_money_sum; lossless: the product of a 2dp price and
    a 2dp discount complement is exactly 4dp) — the grand-total row
    aggregates the WHOLE table, so the rounded double-sum spelling
    diverged cross-engine at 100× (round-8 sweep, ~5e11 magnitudes)
    and the round-8 per-row DECIMAL fix paid BigDecimal per row; the
    long split-sum is both (see money.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        exact_money_sum(rev, "revenue"),
        F.count("*").alias("n"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP))
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day) — all four grouping sets."""
    ev = load_table(spark, sf_dir, "events")
    return ev.cube("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(MIN(l_extendedprice), 4)            AS min_price,
           ROUND(MAX(l_extendedprice), 4)            AS max_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4)    AS sd_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS median_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. EXACT interpolated percentiles
    (== DuckDB ``quantile_cont``), computed SCALABLY: the percentiles
    come from :func:`pyspark_caffe_spark.quantiles.exact_percentiles`
    — sketch-bracket + exact rank lookup, bounded memory — instead of
    the built-in ``percentile``, whose buffer-every-group-value
    execution OOM'd an 8 GB heap on the 60M-row 100× dataset during
    the round-8 parity sweep (java.lang.OutOfMemoryError; the group
    COUNT here is 3, but each group's VALUE COUNT is a third of the
    table — unboundable).  Identical values, provably exact (the
    bracket's rank containment is verified with exact counts before
    any value is read from it)."""
    from pyspark_caffe_spark.quantiles import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    # the min/max/stddev moments ride exact_percentiles' own
    # aggregation pass (extra_aggs over the normalized value column
    # "v", round 18) — the previous separate moments groupBy +
    # broadcast join cost one more full lineitem scan at every scale
    pcts = exact_percentiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        [0.5, 0.9],
        extra_aggs={
            "min_price": F.round(F.min("v"), 4),
            "max_price": F.round(F.max("v"), 4),
            "sd_price": F.round(F.stddev_samp("v"), 4),
        },
    )
    return pcts.select(
        "l_returnflag", "min_price", "max_price", "sd_price",
        F.round(F.col("p_0"), 4).alias("median_price"),
        F.round(F.col("p_1"), 4).alias("p90_price"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_custkey,
           STRING_AGG(o_orderkey, ',' ORDER BY o_orderkey) AS order_keys
    FROM orders
    WHERE o_totalprice > 450000
    GROUP BY o_custkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list + sort_array — deterministic array aggregation.
    (Unsorted collect_list order is partition-dependent; always sort.)

    The sorted array is serialized to a comma-joined string: array-typed
    output columns crash the driver's pandas canonicalizer (unhashable
    list), so every registered query emits scalar columns only — locked
    by tests/test_api.py::test_no_complex_output_columns."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 450000)
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("order_keys")
        )
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — applied after the hash agg,
    cannot push below it."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .filter(F.col("n_orders") > 12)
    )


@query(
    "agg_q6_selective",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def agg_q6_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style selective scalar aggregate: three conjunctive
    predicates (range + between + less-than) feeding a single SUM —
    the canonical pushdown probe. All three conjuncts reach the
    parquet scan as PushedFilters, so row-groups outside the 1996
    ship-year never leave storage; the agg itself is a map-side
    partial + 1-row final merge (no meaningful shuffle at any scale).
    The revenue sum is EXACT (price 2dp × discount 2dp lives on the
    4dp money grid): at the 100× single-group magnitude (~1.5e9) a
    rounded double sum is the cent-flip class the round-11 sweep
    caught red on agg_unpivot — same fix as Q1's sum_disc_price."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_money_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_hll_rollup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT DATE_TRUNC('day', ts)) AS n_days,
           COUNT(DISTINCT user_id) AS n_users_exact,
           true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch reaggregation: per (event_type, day) HLL
    sketches of distinct users, then hll_union_agg up to a per-type
    total estimate — the 100 TB distinct-count architecture. Unlike
    countDistinct (whose partials are the raw values and reshuffle at
    every rollup level), sketches are fixed-size (~KB) and merge
    associatively: the daily sketch table is computed once and any
    rollup (weekly, monthly, global) is a cheap union over it.

    Invariant-literal oracle: sketch bytes/estimates are engine-
    specific, so the checked columns are the exact per-type day and
    user counts plus an IN-PLAN ±5% accuracy flag over the rolled-up
    estimate (oracle emits literal ``true``)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return exact.join(F.broadcast(rolled), "event_type").select(
        "event_type",
        "n_days",
        "n_users_exact",
        _within_5pct(F.col("approx_users"), F.col("n_users_exact")).alias("within_tol"),
    )


@query(
    "agg_modern",
    oracle="""
    SELECT o_custkey,
           MAX_BY(o_orderkey, o_totalprice) AS best_order,
           MIN_BY(o_orderkey, o_totalprice) AS worst_order,
           CAST(COUNT_IF(o_totalprice > 200000) AS BIGINT) AS n_big,
           BOOL_OR(o_orderstatus = 'F') AS any_finished
    FROM orders GROUP BY o_custkey
    """,
)
def agg_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate family: max_by/min_by (argmax — the per-group
    "row with the best score" WITHOUT a window + filter pass, one hash
    agg instead of a sort), count_if, bool_or. (o_custkey,
    o_totalprice) is duplicate-free at every fixture SF — checked — so
    the argmax is deterministic and fully oracled."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("best_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("worst_order"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_price
      FROM orders GROUP BY 1)
    SELECT o_orderstatus, metric, value
    FROM wide UNPIVOT (value FOR metric IN (n_orders, total, avg_price))
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — the inverse of agg_pivot: a wide per-status
    metrics row becomes (status, metric, value) long form. Purely a
    projection+explode over the already-aggregated (tiny) wide table —
    no additional shuffle beyond the groupBy that built it.

    The per-status price total is summed EXACTLY (money radix split):
    the round-11 100× sweep caught ROUND(SUM(double), 2) flipping a
    full cent between engines at the F-status magnitude (~1.2e12 —
    double ulp there is 2.4e-4 and 20M adds random-walk past the
    half-cent), the same class the round-8 sweep caught on Q1.  The
    average divides the exact sum by the exact count, so both engines
    round the identical double."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        exact_money_sum(F.col("o_totalprice"), "total"),
        F.round(
            exact_money_sum(F.col("o_totalprice")) / F.count("*"), 2
        ).alias("avg_price"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "total", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000) + 1, 11) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (10 buckets over
    [0, 500k); the oracle mirrors width_bucket's overflow clamp with
    LEAST(..., 11) so the two sides stay structurally identical even
    if a regenerated fixture ever exceeds 550k). One hash agg over ≤10
    groups: the shuffle carries bucket ids, the canonical
    distribution-profile pass at any scale.  Bucket totals are EXACT
    money sums (~3e11 per bucket at 100×: a double ROUND(SUM, 2)
    there is the cent-flip class the round-11 sweep caught red on
    agg_unpivot — same table, same magnitude)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(10))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_money_sum(F.col("o_totalprice"), "total"),
        )
    )


@query(
    "agg_corr_regr",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS covar_qty_disc,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope_price_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates per group: Pearson correlation,
    sample covariance, regression slope. Each is a single-pass
    mergeable moment computation (sum, sum², sum-of-products partials)
    — the same partial+final shape as SUM, so the shuffle carries one
    moment tuple per group regardless of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope_price_qty"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT o_custkey,
           STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_list,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) BETWEEN 2 AND 6
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / STRING_AGG): per-customer
    comma-joined orderkey list. Sorted NUMERICALLY before stringifying
    (sort_array on longs, then cast — sorting the strings would give
    lexicographic '100' < '99' and diverge from the oracle's ORDER BY).
    Same one-shuffle collect shape as agg_collect; the HAVING keeps
    list rows bounded — the guard any 100 TB list-agg needs against a
    hot key materializing an unbounded string."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("order_list"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders").between(2, 6))
    )


@query(
    "agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n
    FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
    )
    WHERE rk = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent o_orderpriority per
    order status): count per (group, value), then a row_number window
    ordered (count DESC, value ASC).  Spark's built-in ``mode()`` is
    tie-nondeterministic, so the portable count+window form is the one
    you'd actually ship; the window's input is already the aggregated
    (|groups|×|values|) frame — tiny, whatever the fact-table size."""
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@query(
    "agg_weighted",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6) AS w_avg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average (quantity-weighted price per return flag) —
    one hash aggregate with two partial sums; the division happens
    post-aggregation on the tiny grouped frame. Map-side combine means
    the shuffle carries |groups|×2 longs per task, independent of
    fact-table size.

    Both sums are EXACT money-grid sums (price 2dp × integral qty =
    2dp; qty integral) — the round-11 cent-flip audit: total_qty
    reaches ~5e8 per flag at 100× where ROUND(SUM(double), 4) is the
    same drift class the sweep caught red on agg_unpivot, and the
    weighted average then divides two identical doubles in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            exact_money_sum(F.col("l_extendedprice") * F.col("l_quantity"))
            / exact_money_sum(F.col("l_quantity")),
            6,
        ).alias("w_avg_price"),
        exact_money_sum(F.col("l_quantity"), "total_qty"),
    )


@query(
    "agg_approx_quantile",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows, true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via ``percentile_approx``
    (mergeable sketch, accuracy 1/10000).  THE 100 TB quantile path:
    agg_stats' exact ``percentile`` materializes each group's sorted
    values, while the sketch shuffles a fixed-size digest per group.

    Invariant-literal oracle: sketch outputs are engine-specific, so
    the plan ALSO computes the exact interpolated percentiles and
    emits an accuracy flag (both p50 and p90 within ±1% of the
    group's value range); the oracle emits literal ``true``.  One
    hash aggregate carries all six measures."""
    ev = load_table(spark, sf_dir, "events")
    tol = 0.01 * (F.col("hi") - F.col("lo"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("a50"),
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("a90"),
            F.percentile("value", F.lit(0.5)).alias("e50"),
            F.percentile("value", F.lit(0.9)).alias("e90"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .select(
            "event_type",
            "n_rows",
            (
                (F.abs(F.col("a50") - F.col("e50")) <= tol)
                & (F.abs(F.col("a90") - F.col("e90")) <= tol)
            ).alias("within_tol"),
        )
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with ``grouping_id()`` — the bitmask that lets a consumer
    tell a real NULL group from a subtotal row (standard SQL encoding,
    identical in both engines).  Same single Expand + hash-agg pass as
    agg_cube."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"), F.count("*").alias("n")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap buckets (Spark 3.5+ bitmap
    family) — the third point on the distinct-count spectrum:
    countDistinct shuffles every raw value, approx_count_distinct
    shuffles a lossy HLL sketch, bitmap aggregation shuffles a LOSSLESS
    fixed-size bitmap per (group, 32k-id bucket).  For dense integer id
    domains (user ids here) this gives exact answers with
    sketch-shuffle economics: the first aggregate OR-combines bit
    positions map-side, so the shuffle carries ≤ |groups| × ⌈id-range /
    32768⌉ bitmaps of 4 KiB regardless of row count — at 100 TB of
    events that's orders of magnitude under the raw-value shuffle, with
    none of HLL's error.  Both aggregation levels are one Catalyst
    plan; result is hash-identical to COUNT(DISTINCT)."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
           true AS merged_eq_direct, true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct sketches (Datasketches HLL, Spark 3.5+) —
    the pre-aggregated-rollup pattern at 100 TB: a daily job stores one
    ~kB `hll_sketch_agg` blob per (event_type, day) instead of raw ids;
    any later rollup `hll_union_agg`s the blobs WITHOUT rescanning the
    raw events.  HLL union is register-wise max, so the merged estimate
    is IDENTICAL to a direct single-pass sketch over the union.

    Invariant-literal oracle: both identities are asserted IN-PLAN and
    emitted as booleans next to the exact distinct count —
    ``merged_eq_direct`` (lossless-merge identity, exact equality) and
    ``within_tol`` (merged estimate within ±5% of exact); the oracle
    emits literal ``true`` for both, so any violation flips a value
    the driver hashes."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("merged_users")
    )
    direct = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("direct_users"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    return direct.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_users_exact",
        (F.col("merged_users") == F.col("direct_users")).alias("merged_eq_direct"),
        _within_5pct(F.col("merged_users"), F.col("n_users_exact")).alias("within_tol"),
    )


@query(
    "agg_q11_partvalue",
    oracle="""
    WITH pv AS (
      SELECT l_partkey, ROUND(SUM(l_extendedprice), 4) AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, value FROM pv
    WHERE value > (SELECT ROUND(1.5 * AVG(value), 4) FROM pv)
    """,
)
def agg_q11_partvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape — important stock: per-part spend filtered
    against a SCALAR AGGREGATE OF THE SAME AGGREGATE (parts above
    1.5× the average part's value).  The Spark plan computes the
    per-part aggregate ONCE and broadcasts the 1-row global average
    back onto it (crossJoin of a broadcast aggregate — the repo-wide
    pattern for uncorrelated scalar subqueries): no second scan of
    lineitem, no driver round trip.  Per-part sums are ROUNDED before
    the average so both engines compare identical doubles.  At 100 TB
    the per-part aggregate is the only shuffle; the threshold side is
    a single number regardless of scale."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.round(F.sum("l_extendedprice"), 4).alias("value")
    )
    # the threshold itself is rounded too: an unrounded double aggregate
    # can differ by ulps between engines (float summation order), which
    # could flip membership of a part landing exactly on the boundary
    thresh = pv.agg(F.round(1.5 * F.avg("value"), 4).alias("_bar"))
    return (
        pv.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") > F.col("_bar"))
        .select("l_partkey", "value")
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolated percentiles per group — Spark's
    `percentile` and DuckDB's `quantile_cont` implement the same
    lower+frac·(upper−lower) interpolation, so the values hash-match
    exactly (verified, no rounding slack needed beyond the standard
    4dp).

    Scale note: exact percentile buffers each group's values — fine
    for bounded groups (3 here), a memory bomb for billion-row groups.
    The registry pairs this key with agg_approx_quantile (t-digest
    sketch, mergeable, bounded memory): exact where groups are small,
    sketch where they are not — the same exact/approx pairing as
    agg_distinct / agg_approx_distinct.

    Computed via :func:`pyspark_caffe_spark.quantiles.exact_percentiles`
    (sketch-bracket + exact rank lookup): the built-in ``percentile``
    buffers every group's values — 20M doubles per group at 100×,
    which OOM'd an 8 GB heap in the round-8 parity sweep (agg_stats,
    same data).  The bracketed path proves rank containment with
    exact counts, sorts only ~0.4% of each group, and returns the
    same interpolated values."""
    from pyspark_caffe_spark.quantiles import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    # the group count rides exact_percentiles' own aggregation pass
    # (extra_aggs, round 18) — the previous separate counts groupBy +
    # broadcast join cost one more full lineitem scan at every scale
    pcts = exact_percentiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        [0.5, 0.9, 0.99],
        extra_aggs={"n": F.count("*")},
    )
    return pcts.select(
        "l_returnflag",
        F.round(F.col("p_0"), 4).alias("p50"),
        F.round(F.col("p_1"), 4).alias("p90"),
        F.round(F.col("p_2"), 4).alias("p99"),
        "n",
    )


@query(
    "agg_approx_topk",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native sketch heavy hitters: Spark 4's ``approx_top_k``
    aggregate (Datasketches frequent-items / Misra-Gries) — the
    fixed-memory, MERGEABLE top-k structure: map tasks build partial
    sketches, the exchange carries one sketch per task (not the value
    stream), merge is associative.  The hand-rolled companion is
    text_heavy_hitters (count-min); this key exercises the built-in.

    Full value-hash oracle, legitimately: Misra-Gries is EXACT when no
    eviction ever occurs, i.e. whenever the number of distinct items
    ≤ maxItemsTracked.  event_type has 5 distinct values and capacity
    is 100, so the "approx" result provably equals the exact GROUP BY
    at every scale factor — the oracle is the plain exact count.  (On
    a high-cardinality column the guarantee degrades to the standard
    ±n/capacity count bound; that regime is text_heavy_hitters'
    invariant-flag territory.)"""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 5, 100)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("cnt"),
        )
    )


@query(
    "agg_topk_sketch_rollup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted frequent-items sketch rollup — the daily-rollup
    serving pattern for heavy hitters, mirroring agg_hll_rollup's
    shape for distinct counts: per-day ``approx_top_k_accumulate``
    sketches are WRITTEN to parquet once (binary Datasketches state, a
    few hundred bytes per day), then any later query answers "top
    items over a date range" by ``approx_top_k_combine`` +
    ``_estimate`` over the STORED sketches — no rescan of the event
    stream.  At 100 TB that turns an any-range top-k from a full-table
    aggregate into a scan of |days| sketch rows.

    Exactness for the oracle (same no-eviction argument as
    agg_approx_topk): every daily sketch tracks ≤ 5 distinct values
    against capacity 100, so each is exact, and the Misra-Gries merge
    of exact sketches whose union of distinct items fits capacity is
    exact — the estimate provably equals the plain GROUP BY."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("approx_top_k_accumulate(event_type, 100)").alias("sk")
    )
    stored = _stored_sketches(daily, "topk_sketches_", sf_dir)
    merged = stored.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 100), 5)").alias("tk")
    )
    return merged.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("event_type"),
        F.col("e.count").cast("long").alias("cnt"),
    )


@query(
    "agg_theta_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
    ix AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_intersect
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ix.type_a, ix.type_b, ta.n AS n_a, tb.n AS n_b, ix.n_intersect,
           ta.n + tb.n - ix.n_intersect AS n_union,
           true AS est_within_bound
    FROM ix JOIN tc ta ON ta.event_type = ix.type_a
            JOIN tc tb ON tb.event_type = ix.type_b
    """,
)
def agg_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via THETA SKETCHES — the set-operation sketch
    HLL cannot do: theta sketches support intersection and difference,
    so "how many users clicked AND purchased" needs one sketch per
    audience (mergeable, KB-sized) instead of a distinct-join over the
    raw stream.  At 100 TB the per-segment sketches are built in one
    pass (map-side partial agg, the exchange carries sketches), stored
    KB-sized, and ANY pairwise overlap question is answered from them.

    The exact pairwise counts ride the same plan and are the
    hash-matched columns; the sketch estimates are checked IN-PLAN
    against them (:func:`_theta_overlap`) and the verdict is the
    hash-checked ``est_within_bound`` boolean (oracle: literal
    ``true``).  tests/test_api.py additionally proves the estimates
    enter REAL estimation mode at 100×-scale cardinalities."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    return _theta_overlap(ev, sk)


@query(
    "agg_kll_quantile_sketch",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           true AS p50_rank_ok, true AS p90_rank_ok, true AS p99_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native KLL quantile sketches — the MERGEABLE
    bounded-memory quantile structure that completes the quantile
    triad: exact-buffering ``percentile`` (small groups),
    quantiles.py's exact bracket path (huge groups, exact contract),
    and KLL (streaming/rollup-friendly estimates with a PROVEN rank
    bound).  Map tasks build fixed-size sketches, the exchange carries
    sketches, merge is associative — the same scale story as the HLL /
    frequent-items / theta keys, for quantiles.

    The KLL guarantee is on RANK, not value, so the in-plan check
    (:func:`_kll_rank_proof`) recomputes each estimate's TRUE rank and
    asserts |rank(q̂_p) − p| ≤ 0.025 — hash-checked booleans against
    the oracle's literal ``true`` next to the exact group sizes, the
    invariant-flag discipline every sketch key here follows."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    return _kll_rank_proof(li, "l_returnflag", "l_extendedprice", sk, (0.5, 0.9, 0.99))


@query(
    "agg_theta_sketch_rollup",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE ts < TIMESTAMP '2024-01-16'
    ),
    tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
    ix AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_intersect
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ix.type_a, ix.type_b, ta.n AS n_a, tb.n AS n_b, ix.n_intersect,
           ta.n + tb.n - ix.n_intersect AS n_union,
           true AS est_within_bound
    FROM ix JOIN tc ta ON ta.event_type = ix.type_a
            JOIN tc tb ON tb.event_type = ix.type_b
    """,
)
def agg_theta_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted theta-sketch rollup — the sketch-warehouse serving
    shape for SET OPERATIONS, completing the stored-sketch family
    (agg_hll_rollup: distinct counts; agg_topk_sketch_rollup: heavy
    hitters; this: intersections/unions over arbitrary date ranges):
    per-(event_type, day) theta sketches are WRITTEN to parquet once
    (KB of binary Datasketches state per row), and any later "which
    audiences overlapped during range R" question unions the stored
    daily sketches per type (theta_union_agg) and intersects across
    types — |days|·|types| sketch rows scanned, the 10M/60M-row event
    stream never rescanned.

    Checked columns are the EXACT range-filtered pairwise counts
    (distinct user-type self-join over the same range, same spelling
    as agg_theta_audience_overlap); the union-of-dailies estimates are
    verified in-plan within ±5 % (+1) — at 100× the 150k-user range
    audiences are deep in estimation mode, so the hash-checked flag is
    doing real work there, not riding the exact mode."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    stored = _stored_sketches(daily, "theta_sketches_", sf_dir).filter(
        F.col("day") < F.lit(_RANGE_END).cast("date")
    )
    per_type = stored.groupBy("event_type").agg(
        F.theta_union_agg("sk").alias("sk")
    )
    ranged = ev.filter(F.col("ts") < F.lit(_RANGE_END).cast("timestamp"))
    return _theta_overlap(ranged, per_type)


@query(
    "agg_kll_sketch_rollup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           true AS p50_rank_ok, true AS p90_rank_ok
    FROM events
    WHERE ts < TIMESTAMP '2024-01-16'
    GROUP BY event_type
    """,
)
def agg_kll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted KLL rollup — any-range QUANTILES from stored daily
    sketches, the fourth stored-sketch family member (HLL distinct /
    frequent-items top-k / theta set ops / KLL quantiles): per-(type,
    day) KLL sketches of event values are written once; a range query
    merges the stored sketches per type (kll_sketch_merge_double, day
    filter pushed to the sketch scan) and reads p50/p90 — |days|·
    |types| sketch rows scanned instead of the event stream.

    The merged sketch keeps KLL's rank guarantee (merge is the
    structure's whole point), so the in-plan proof is the same as
    agg_kll_quantile_sketch's: recompute each estimate's TRUE rank
    over the range-filtered stream and assert |rank − p| ≤ 0.025,
    hash-checked against the oracle's literal ``true`` beside the
    exact range counts."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )
    stored = _stored_sketches(daily, "kll_sketches_", sf_dir).filter(
        F.col("day") < F.lit(_RANGE_END).cast("date")
    )
    # kll_sketch_merge_double is a BINARY scalar (no agg form), so the
    # per-type merge folds the ≤31 stored daily sketches with the
    # aggregate HOF: init = day 1's sketch, combine = pairwise merge.
    # The fold is tiny (|days| rows per type) — the interpreted-lambda
    # cost HOFs carry is irrelevant here, unlike on per-row hot paths.
    merged = (
        stored.groupBy("event_type")
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            "event_type",
            F.aggregate(
                F.expr("slice(sks, 2, greatest(size(sks) - 1, 0))"),
                F.element_at("sks", 1),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk"),
        )
    )
    ranged = ev.filter(F.col("ts") < F.lit(_RANGE_END).cast("timestamp"))
    return _kll_rank_proof(ranged, "event_type", "value", merged, (0.5, 0.9))


#: Benford first-digit law P(d) = log10(1 + 1/d) — shortest-round-trip
#: literals, parsed to identical doubles by both engines
_BENFORD_P = [
    "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
    "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
    "0.05799194697768673", "0.05115252244738129", "0.04575749056067514",
]


def _benford_oracle() -> str:
    # CAST each literal: DuckDB types a bare decimal literal as
    # DECIMAL(18,17), not DOUBLE (dtype-parity check caught it)
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in enumerate(_BENFORD_P, start=1)
    ) + " END"
    return f"""
    WITH fd AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ), h AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM fd GROUP BY 1
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fd)
    SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / n AS obs_frac,
           {exp_case} AS exp_frac,
           ABS(CAST(n_obs AS DOUBLE) / n - {exp_case}) < 0.03 AS within_tol
    FROM h, t
    """


@query("agg_benford", oracle=_benford_oracle())
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic fraud / synthetic-data
    screen: naturally-occurring multi-magnitude amounts follow
    P(d) = log10(1+1/d); fabricated or truncated data doesn't.  Run
    per ingest batch, it is a one-scan data-quality tripwire — and
    the fixture demonstrates it FIRING: TPC-H order totals live in a
    narrow band (sums of a few line prices), so digits 1–4 are
    uniform and 5–9 starved; several within_tol flags are
    legitimately false, which the oracle hash-checks — exactly what
    the screen reports on truncated/synthetic amounts.

    Emitted PER DIGIT (9 rows: exact count, obs_frac as one int/int
    division, the expected literal, and the |obs−exp| < 0.03 flag) —
    no cross-row float statistic, so every value is
    engine-deterministic; a chi-square rollup is one tiny local step
    for the consumer.  First digit extracted from exact integer cents
    (string head of a long), never from float formatting."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    h = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    n = row_count(spark, sf_dir, "orders")
    exp = F.lit(None).cast("double")
    for d, p in reversed(list(enumerate(_BENFORD_P, start=1))):
        exp = F.when(F.col("digit") == d, F.lit(float(p))).otherwise(exp)
    obs_frac = F.col("n_obs").cast("double") / F.lit(n)
    return h.select(
        "digit",
        "n_obs",
        obs_frac.alias("obs_frac"),
        exp.alias("exp_frac"),
        (F.abs(obs_frac - exp) < 0.03).alias("within_tol"),
    )
