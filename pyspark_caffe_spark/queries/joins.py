"""Join operators — SURVEY.md §2.3.

Scale notes apply to every join here: equi-joins against dimension
tables are explicitly broadcast (dims stay < broadcast threshold even
at 100 TB fact scale); large-fact equi-joins go through sort-merge /
shuffled-hash chosen by Catalyst + AQE (skew-join splitting on).
As-of matching is one union + window, :func:`asof_bracket` — ONE
shuffle by key, linear in input, instead of a quadratic range join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_caffe_spark.money import exact_money_sum
from pyspark_caffe_spark.materialize import pin
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.tables import literal_lookup, load_table, nation_lookup


@query(
    "join_inner_hash",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi-join; AQE picks broadcast-hash when the build side is
    small, sort-merge otherwise — the plan is left to the optimizer."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT l_orderkey, l_linenumber, s_name, n_name
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim with an explicit broadcast hint: zero shuffle of the
    600k-row (→100 TB) fact side; supplier replicates to every
    executor.  The 25-row nation join is a driver-side literal lookup
    (``tables.nation_lookup``): an IN filter for the inner join's
    drops, ``element_at`` for the name."""
    li = load_table(spark, sf_dir, "lineitem")
    nations = nation_lookup(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(list(nations)))
    return li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).select(
        "l_orderkey",
        "l_linenumber",
        "s_name",
        literal_lookup(
            F.col("s_nationkey"), {k: n.n_name for k, n in nations.items()}
        ).alias("n_name"),
    )


@query(
    "join_multiway",
    oracle="""
    SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-table chain.  The two fact tables join first on
    their shared key; customer and supplier broadcast onto them.
    nation and region are fixed-size, so they are resolved on the
    driver (``tables.nation_lookup``): the ASIA nation keys filter the
    customer and supplier scans (pushed down as ``In``), and each row's
    ``n_name`` is a literal-map lookup, so neither dimension is scanned
    or broadcast.  The date filter lands on the orders scan (pushdown).
    Per-nation revenue is an EXACT money sum (round-11 cent-flip
    audit: ~1.4e9 per nation at 100×, the ROUND(SUM(double)) drift
    class the sweep caught red on agg_unpivot)."""
    asia = nation_lookup(spark, sf_dir, ["ASIA"])
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(list(asia)))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(list(asia)))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy(
            literal_lookup(
                F.col("s_nationkey"), {k: n.n_name for k, n in asia.items()}
            ).alias("n_name")
        )
        .agg(
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           ROUND(CAST(COALESCE(SUM(o_totalprice), 0) AS DOUBLE), 4) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving customers with zero orders (COUNT of the
    null-extended key is 0 for them)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spend"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT a.c_custkey, a.c_name, b.o_orderkey, b.o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey < 50) a
    FULL JOIN (SELECT * FROM orders WHERE o_custkey >= 1400) b
      ON a.c_custkey = b.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer on (mostly) disjoint key ranges — null-extension on
    both sides is exercised."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") >= 1400)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with ≥1 order; probe side never widens."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with NO order above 300k. (Every fixture
    customer has ≥1 order, so the unfiltered anti-join would be
    vacuously empty — the build side is filtered to keep the check
    meaningful.)"""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.value AS value_a, b.value AS value_b
    FROM (SELECT * FROM events WHERE event_id < 500) a
    JOIN (SELECT * FROM events WHERE event_id < 500) b
      ON a.event_id < b.event_id
     AND b.value BETWEEN a.value - 1 AND a.value
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join on a value band. Physical plan is a
    broadcast nested-loop — inherently quadratic, so the inputs are
    pre-filtered slices; at scale a band join should be blocked on
    bucketized value ranges first (see join_range_bucketed / similarity.sim_threshold_join for the
    blocked pattern)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    a = ev.select(F.col("event_id").alias("id_a"), F.col("value").alias("value_a"))
    b = ev.select(F.col("event_id").alias("id_b"), F.col("value").alias("value_b"))
    return a.join(
        b,
        (F.col("id_a") < F.col("id_b"))
        & F.col("value_b").between(F.col("value_a") - 1, F.col("value_a")),
    )


def asof_bracket(probe: DataFrame, ref: DataFrame, by: str, ts: str, carry: Column) -> DataFrame:
    """The one as-of plan: each ``probe`` row with the ``ref`` rows that
    bracket it in time within its ``by`` key.

    The two sides are tagged, unioned and windowed once, partitioned by
    ``by`` and ordered by ``(ts, ref-before-probe)``.  ``carry`` is a
    struct over the ref rows' columns; each probe row keeps its columns
    and gains two values of it:

    - ``prev``: from the last ref row with ``ref.ts <= probe.ts``;
    - ``next``: from the first ref row with ``ref.ts > probe.ts``.

    Either is null when no such row exists.  A ref row whose ``carry``
    or ``ts`` is null brackets nothing, and a probe row whose ``ts`` is
    null is bracketed by nothing.  The tie rule lives here: a ref
    row at the probe's own timestamp sorts first, so it is ``prev`` and
    never ``next``.  Carrying one struct keeps each frame's fields from
    one row.  Several ref rows at one timestamp tie in the order; which
    of them ``prev`` carries is then left to the sort.

    Both frames share one sort and one Window node over ONE shuffle on
    ``by``, and both are single passes: ``prev`` a running ``last``,
    ``next`` a ``lead ... IGNORE NULLS``.  (``first`` over ``1
    FOLLOWING .. UNBOUNDED FOLLOWING`` gives the same ``next`` but
    rescans the rest of the partition for every row: 6.2 s for 10k rows
    of one key and 70 s for 40k, against 0.5 s and 0.2 s, local[2].)"""
    side = Window.partitionBy(by).orderBy(ts, "_probe")
    timed = F.col(ts).isNotNull()
    tagged = probe.withColumn("_probe", F.lit(1)).unionByName(
        ref.select(by, ts, F.when(timed, carry).alias("_c"), F.lit(0).alias("_probe")),
        allowMissingColumns=True,
    )
    return (
        tagged.select(
            *probe.columns,
            "_probe",
            F.when(
                timed,
                F.last("_c", ignorenulls=True).over(
                    side.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            ).alias("prev"),
            F.when(timed, F.expr("lead(_c) IGNORE NULLS").over(side)).alias("next"),
        )
        .filter(F.col("_probe") == 1)
        .drop("_probe")
    )


def _purchases_clicks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The as-of joins' two sides: purchases probe, clicks are the reference."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
        ev.filter(F.col("event_type") == "click").select("user_id", "ts"),
    )


def _nearest_click(tol_us: int | None = None) -> Column:
    """The nearer of the bracket's ``prev.ts`` and ``next.ts`` to ``ts``
    (a distance tie goes to ``prev``); with ``tol_us``, a click further
    than that many microseconds away is no candidate."""
    back, fwd = F.col("prev.ts"), F.col("next.ts")
    d_back = F.unix_micros(F.col("ts")) - F.unix_micros(back)
    d_fwd = F.unix_micros(fwd) - F.unix_micros(F.col("ts"))
    if tol_us is not None:
        back, fwd = F.when(d_back <= tol_us, back), F.when(d_fwd <= tol_us, fwd)
    return F.when(back.isNull(), fwd).when(fwd.isNull(), back).when(d_back <= d_fwd, back).otherwise(fwd)


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before
    it, per user.

    Spark has no native ASOF; :func:`asof_bracket` is the scalable plan
    (one shuffle on user_id, one sort, no range join).  Its ``prev``
    frame is exactly DuckDB's ``p.ts >= c.ts``: a click at the
    purchase's own timestamp sorts first and is the match.
    """
    purchases, clicks = _purchases_clicks(spark, sf_dir)
    return asof_bracket(purchases, clicks, "user_id", "ts", F.struct("ts")).select(
        "event_id", "user_id", "ts", F.col("prev.ts").alias("click_ts")
    )


@query(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.click_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT ts AS click_ts FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts + INTERVAL 2 HOUR
      ORDER BY ABS(EPOCH_US(c.ts) - EPOCH_US(p.ts)), c.ts
      LIMIT 1
    ) c ON TRUE
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOLERANCE-BOUNDED nearest as-of join (pandas ``merge_asof
    direction='nearest', tolerance=2h``): each purchase matched to
    the closest click within ±2 hours, per user, NULL when no click
    falls inside the window — the bound join_asof_nearest lacks, and
    what telemetry alignment actually wants (an hours-stale match is
    worse than no match).

    Plan: :func:`asof_bracket` (one shuffle on user_id, one sort, no
    range join) gives each purchase its ``prev`` click (latest at or
    before it) and ``next`` click (earliest after it); the nearer one
    inside the tolerance wins.  Under the bracket's tie rule a click at
    the purchase's own timestamp is ``prev`` at distance 0, and
    distance ties break to ``prev``, the EARLIER click — the oracle's
    ``ORDER BY abs(Δt), ts``.  The lateral-scan oracle is the semantic
    spec; it would be quadratic per user at scale, which is the point
    of this plan."""
    purchases, clicks = _purchases_clicks(spark, sf_dir)
    return asof_bracket(purchases, clicks, "user_id", "ts", F.struct("ts")).select(
        "event_id", "user_id", "ts",
        _nearest_click(tol_us=2 * 3600 * 1_000_000).alias("click_ts"),
    )


@query(
    "join_q3_topk",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def join_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the fixture schema —
    the BASELINE.md q3 shape (3-way join + agg + top-10, measured
    4.23 s there). Both date filters push to their scans; customer
    (selective after the segment filter) broadcasts; the top-10 is a
    TakeOrdered, not a global sort."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.value AS value_a, b.value AS value_b
    FROM events a JOIN events b
      ON a.event_id < b.event_id
     AND b.value BETWEEN a.value - 1 AND a.value
    WHERE a.event_id < 3000 AND b.event_id < 3000
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join, the SCALE way: bucketize the band column to
    integer buckets of the band width, equi-join on bucket AND
    bucket±1, then apply the exact band predicate.

    Identical semantics to the naive theta join (the oracle IS the
    naive form) but the physical plan is a hash/sort-merge EQUI-join on
    ~3 bucket pairs per row instead of a broadcast-nested-loop over all
    pairs: O(n·k) vs O(n²). This is the pattern join_theta_range's
    docstring promises for 100 TB."""
    band = 1.0
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "value", F.floor(F.col("value") / band).alias("bucket"))
    )
    a = ev.select(
        F.col("event_id").alias("id_a"), F.col("value").alias("value_a"), "bucket"
    )
    # b probes its own bucket and the one above (a.value-1 can fall one bucket down)
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("value").alias("value_b"),
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & F.col("value_b").between(F.col("value_a") - band, F.col("value_a"))
        )
        .select("id_a", "id_b", "value_a", "value_b")
    )


@query(
    "join_cross_limited",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims (125 rows)."""
    reg = load_table(spark, sf_dir, "region")
    nat = load_table(spark, sf_dir, "nation")
    return reg.crossJoin(nat).select("r_name", "n_name")


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (SELECT NULLIF(o_orderstatus, 'P') AS k, COUNT(*) AS n_a
               FROM orders GROUP BY 1),
         b AS (SELECT NULLIF(o_orderstatus, 'F') AS k, COUNT(*) AS n_b
               FROM orders GROUP BY 1)
    SELECT a.k AS k_a, b.k AS k_b, n_a, n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of vanishing from the inner join.
    Two order-status rollups with different statuses NULLed out share
    only {O, NULL} — a plain equi-join returns 1 row, the null-safe
    join 2.

    Scale note: <=> is still a hash-joinable equi-key (Spark coalesces
    NULL into an ordinary join value), so this stays a broadcast/SMJ —
    no nested-loop penalty. But ALL null rows land on one key: a
    null-heavy column needs the null side split out (union of an
    IS NULL branch) or salted, same as any hot key."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
    ).agg(F.count("*").alias("n_a"))
    b = orders.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias("k")
    ).agg(F.count("*").alias("n_b"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k_a"), b["k"].alias("k_b"), "n_a", "n_b"
    )


@query(
    "join_exists_flag",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 400000) AS has_big_order
    FROM customer
    """,
)
def join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag (mark) join: every customer row kept, annotated
    with a boolean instead of filtered (the semi/anti joins' sibling
    that feature pipelines want — the flag becomes a model feature).
    Implemented as left join against the DISTINCT matching keys: the
    distinct pre-aggregation keeps the join 1:1 so no row multiplies,
    and the build side shrinks to unique keys before broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
        .distinct()
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_custkey").isNotNull().alias("has_big_order"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT MAX(c.ts) FROM c
               WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS bts,
             (SELECT MIN(c.ts) FROM c
               WHERE c.user_id = p.user_id AND c.ts >= p.ts) AS fts
      FROM p
    )
    SELECT event_id, user_id, ts,
           CASE WHEN bts IS NULL THEN fts
                WHEN fts IS NULL THEN bts
                WHEN (ts - bts) <= (fts - ts) THEN bts
                ELSE fts END AS near_click_ts
    FROM cand
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof
    direction='nearest'``): each purchase matched to its temporally
    closest click per user, ties resolved toward the earlier click.

    Same :func:`asof_bracket` plan as join_asof (one shuffle on
    user_id, one sort, no range join): the exact microsecond distance
    picks the nearer of ``prev`` and ``next``, and a distance tie goes
    to ``prev``.  The oracle's at-or-after ``fts`` differs from
    ``next`` only when a click sits at the purchase's own timestamp,
    where both candidates are that timestamp at distance 0."""
    purchases, clicks = _purchases_clicks(spark, sf_dir)
    return asof_bracket(purchases, clicks, "user_id", "ts", F.struct("ts")).select(
        "event_id", "user_id", "ts", _nearest_click().alias("near_click_ts")
    )


@query(
    "join_scd2",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment || '/v1' AS segment_version,
             TIMESTAMP '1992-01-01' AS valid_from,
             TIMESTAMP '1996-12-31 23:59:59' AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment || '/v2' AS segment_version,
             TIMESTAMP '1997-01-01' AS valid_from,
             TIMESTAMP '9999-12-31' AS valid_to
      FROM customer
    )
    SELECT segment_version, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 4))) AS DOUBLE) AS total
    FROM orders JOIN dim
      ON o_custkey = c_custkey
     AND o_orderdate BETWEEN valid_from AND valid_to
    GROUP BY segment_version
    """,
)
def join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 join: each fact row joins the
    dim VERSION valid at its event date (equi-join on the business key
    + BETWEEN on the validity window).  The dim is synthesized as two
    versions split at 1997-01-01.

    Plan shape is the one that matters at 100 TB: the equi-key carries
    the join (hash/broadcast), the validity BETWEEN is a post-join
    filter — never a range join.  SCD2 dims stay dim-sized (versions ×
    keys), so the broadcast path survives scale."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("/v1")).alias("segment_version"),
        F.lit("1992-01-01").cast("timestamp").alias("valid_from"),
        F.lit("1996-12-31 23:59:59").cast("timestamp").alias("valid_to"),
    )
    v2 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("/v2")).alias("segment_version"),
        F.lit("1997-01-01").cast("timestamp").alias("valid_from"),
        F.lit("9999-12-31").cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    joined = orders.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & F.col("o_orderdate").between(F.col("valid_from"), F.col("valid_to")),
    )
    return joined.groupBy("segment_version").agg(
        F.count("*").alias("n_orders"),
        # exact long split-sum (money.py) — same value as the per-row
        # DECIMAL spelling that fixed the round-8 100× divergence, no
        # per-row BigDecimal
        exact_money_sum(F.col("o_totalprice"), "total"),
    )


@query(
    "join_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_totalprice FROM orders),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN ROUND(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderkey % 31 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000 AS o_orderkey, 42.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 53 = 0
    )
    SELECT status, COUNT(*) AS n FROM (
      SELECT CASE
               WHEN old.o_orderkey IS NULL THEN 'added'
               WHEN new.o_orderkey IS NULL THEN 'removed'
               WHEN old.o_totalprice <> new.o_totalprice THEN 'changed'
               ELSE 'same' END AS status
      FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    GROUP BY status
    """,
)
def join_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation audit: FULL OUTER join of two table
    versions on the key, classifying every row added / removed /
    changed / same — the pre-merge diff report every CDC or backfill
    pipeline runs before applying changes (sink_merge_upsert is the
    APPLY side of this audit).  The 'new' snapshot is synthesized
    deterministically (drop every 31st key, reprice every 97th, add
    every 53rd under a shifted key).  One co-partitioned shuffle on
    the key; the classification is a map over the joined stream and
    the report is |statuses| rows."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice")
    new = (
        orders.filter(F.col("o_orderkey") % 31 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 53 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit(42.0).alias("o_totalprice"),
            )
        )
    )
    j = old.alias("old").join(
        new.alias("new"), on="o_orderkey", how="full_outer"
    )
    status = (
        F.when(F.col("old.o_totalprice").isNull(), "added")
        .when(F.col("new.o_totalprice").isNull(), "removed")
        .when(F.col("old.o_totalprice") != F.col("new.o_totalprice"), "changed")
        .otherwise("same")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             MIN(ts) AS t_start,
             MIN(ts) + INTERVAL 1 HOUR * (user_id % 7 + 1) AS t_end
      FROM events WHERE user_id < 500
      GROUP BY user_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND a.t_start <= b.t_end AND b.t_start <= a.t_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided interval-overlap self-join, bucket-blocked: each
    user's [first event, first event + 1-7 h] interval is exploded to
    its covered DAY buckets; candidate pairs meet only inside a shared
    bucket (equi-join on the bucket — a hash join, never a
    BroadcastNestedLoopJoin) and are verified with the exact overlap
    predicate.  The first-shared-bucket trick (keep a pair only in
    bucket = max of the two start buckets) dedups WITHOUT a distinct
    shuffle.  The oracle is the direct theta self-join — quadratic,
    fine for DuckDB at fixture scale; the bucketed plan is the one
    that survives 100 TB (candidates ∝ pairs per bucket, not N²)."""
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.filter(F.col("user_id") < 500)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_start"))
        .select(
            "user_id",
            "t_start",
            (
                F.col("t_start")
                + F.make_interval(hours=(F.col("user_id") % 7 + 1).cast("int"))
            ).alias("t_end"),
        )
    )
    day = lambda c: F.floor(F.unix_micros(c) / F.lit(86400 * 1_000_000))
    bucketed = iv.select(
        "user_id", "t_start", "t_end",
        F.explode(F.sequence(day(F.col("t_start")), day(F.col("t_end")))).alias("bkt"),
        day(F.col("t_start")).alias("sbkt"),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"), F.col("t_start").alias("sa"),
        F.col("t_end").alias("ea"), "bkt", F.col("sbkt").alias("sbkt_a"),
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"), F.col("t_start").alias("sb"),
        F.col("t_end").alias("eb"), "bkt", F.col("sbkt").alias("sbkt_b"),
    )
    return (
        a.join(b, "bkt")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
            & (F.col("bkt") == F.greatest("sbkt_a", "sbkt_b"))
        )
        .select("user_a", "user_b")
    )


@query(
    "join_q13_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def join_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer distribution by order count — left outer
    join with a join-side residual predicate, then TWO stacked
    aggregations (per-customer count, then histogram of those counts;
    zero-order customers must survive as c_count = 0, which is why the
    filter lives in the join condition, not a WHERE).

    Scale shape: the priority filter is pushed to the orders parquet
    scan (verified ``PushedFilters: [Not(EqualTo(o_orderpriority,
    5-LOW))]``); at test SF orders broadcasts, so customer flows scan →
    join → partial agg with ZERO shuffles before the single c_custkey
    exchange. At 100 TB the join falls back to sort-merge shuffling
    both sides on the customer key — which the per-customer groupBy
    then reuses (same key, no second shuffle of the big side); the
    final histogram reduces |customers| rows to a handful of buckets
    with map-side partials.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "join_q2_mincost",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             ROUND(MIN(l_extendedprice / l_quantity), 4) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, unit_cost
    FROM part
    JOIN ps ON ps.l_partkey = p_partkey
    JOIN supplier ON s_suppkey = ps.l_suppkey
    WHERE p_size < 10
      AND unit_cost = (SELECT MIN(ps2.unit_cost) FROM ps ps2
                       WHERE ps2.l_partkey = p_partkey)
    """,
)
def join_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape — the min-cost supplier per part (nested
    correlated subquery against an aggregate; fixtures carry no
    partsupp table, so per-(part, supplier) unit cost derives from
    lineitem).  The ORACLE keeps the textbook correlated-scalar-
    subquery SQL; the Spark plan re-expresses it the way you'd want
    at 100 TB — a naive CTE translation scans+aggregates lineitem
    TWICE (measured: 3 exchanges, no reuse), while this formulation
    runs ONE pass:

      broadcast-semi-prune lineitem to qualifying parts (p_size
      filter applied before any shuffle) → repartition by l_partkey →
      (part, supp) min agg WITHOUT a second exchange (partkey
      partitioning already clusters the grouping keys) → per-part
      MIN() window on the SAME partitioning → filter cost == min.

    Cost is ROUNDED to 4 decimals pre-comparison on both engines so
    the min-equality compares identical doubles; every supplier tying
    at the min survives (set semantics).  join_corr_scalar covers the
    decorrelation execution path itself."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("_min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("_min_cost")
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_cost")
    )


@query(
    "join_q20_semichain",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity) > 40
    )
    AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey < 3)
    """,
)
def join_q20_semichain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's shape — a SEMI-JOIN CHAIN three levels deep:
    suppliers who moved > 40 units of any 'red%' part in 1996, in a
    region-0-2 nation.  Expressed with explicit left_semi joins (the
    DataFrame twin of nested IN subqueries):

      part(name filter) ⋉ lineitem(date filter) → HAVING agg
        → supplier(region-0-2 nation keys) ⋉ qualifying suppkeys

    Scale shape: every probe side is reduced BEFORE touching the next
    table — the name filter prunes part to a broadcastable key list,
    the date filter is pushed to the lineitem scan, the HAVING output
    is |qualifying (supp, part)| rows distinct-ed to supplier keys,
    and both semi builds broadcast.  The nation semi-join is an IN
    filter on the supplier scan: the qualifying nation keys are read
    on the driver (``tables.nation_lookup``).  No row of supplier ever
    joins more than once (semi semantics — no fan-out, no dedup
    pass)."""
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    qualifying = (
        li.join(F.broadcast(part_keys), li.l_partkey == part_keys.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    nation_keys = [
        k
        for k, n in nation_lookup(spark, sf_dir).items()
        if n.n_regionkey is not None and n.n_regionkey < 3
    ]
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(nation_keys))
    return supp.join(
        F.broadcast(qualifying), supp.s_suppkey == qualifying.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "agg_q17_small_qty",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE) / 7.0,
                 4) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def agg_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape — small-quantity-order revenue: lineitem rows
    under HALF THEIR PART'S AVERAGE quantity (a correlated AVG
    subquery).  The oracle keeps the correlated SQL; the Spark plan is
    the decorrelated form you'd hand-write at 100 TB: the brand filter
    prunes part to a broadcastable key list FIRST, the per-part
    average aggregates only pruned lineitem rows (the correlated
    subquery ranges over the part key, so pre-filtering by part is
    semantics-preserving), and the avg table broadcasts back onto the
    same pruned scan — Catalyst reuses one exchange for agg + join."""
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part_keys),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(
            F.broadcast(avg_qty.withColumnRenamed("l_partkey", "ak")),
            F.col("l_partkey") == F.col("ak"),
        )
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            # per-row DECIMAL(18,4) (lossless: prices are 2dp) — the
            # decimal sum is one exact value in any summation order,
            # so the /7 quotient and its rounding start from the SAME
            # double on both engines at any scale.  The previous
            # ROUND(SUM(double)/7, 4) failed the round-8 100× parity
            # sweep at ~1e10 magnitudes (order-dependent float sum).
            F.round(
                exact_money_sum(F.col("l_extendedprice")) / 7.0,
                4,
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_q22_cntrycode",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey, c_acctbal, CAST(c_custkey % 7 AS BIGINT) AS cntrycode
      FROM customer
      WHERE c_custkey % 7 IN (1, 2, 3)
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM eligible e
    WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 4) FROM eligible WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = e.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    """,
)
def join_q22_cntrycode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape — global-sales-opportunity: customers with no
    URGENT order but above-average balance, grouped by country code
    (derived as custkey % 7 — fixtures carry no phone column; the
    anti-join side is priority-filtered because every fixture customer
    has SOME order, which would make the textbook no-orders predicate
    vacuously empty).  Three classic sub-shapes in one query: an
    uncorrelated scalar AVG (broadcast 1-row cross join — never a
    driver round trip), a NOT EXISTS anti-join against a filtered
    orders scan (the filter pushes to parquet), and a final rollup.
    At 100 TB the anti-join is the expensive side (fact-sized build):
    Catalyst plans broadcast-anti at fixture scale and SMJ-anti with
    AQE above the threshold; the scalar avg stays one tiny broadcast
    either way."""
    cust = load_table(spark, sf_dir, "customer")
    eligible = cust.filter(
        F.pmod(F.col("c_custkey"), F.lit(7)).isin(1, 2, 3)
    ).select(
        "c_custkey",
        "c_acctbal",
        F.pmod(F.col("c_custkey"), F.lit(7)).cast("long").alias("cntrycode"),
    )
    # rounded threshold: ulp-level cross-engine drift in the unrounded
    # AVG could flip a customer sitting exactly on the boundary
    avg_bal = eligible.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        eligible.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, eligible.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            exact_money_sum(F.col("c_acctbal"), "totacctbal"),
        )
    )


@query(
    "join_recursive_closure",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT p_partkey // 10 AS ancestor, p_partkey AS descendant
      FROM part WHERE p_partkey >= 1 AND p_partkey // 10 >= 1
    ), cl AS (
      SELECT ancestor, descendant, 1 AS depth FROM e
      UNION ALL
      SELECT cl.ancestor, e.descendant, cl.depth + 1
      FROM cl JOIN e ON cl.descendant = e.ancestor
    )
    SELECT CAST(ancestor AS BIGINT) AS ancestor,
           CAST(descendant AS BIGINT) AS descendant,
           CAST(depth AS INT) AS depth
    FROM cl
    """,
)
def join_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE hierarchy closure — the bill-of-materials / org-chart
    workload (WITH RECURSIVE in SQL engines): every (ancestor,
    descendant, depth) pair of a containment tree, here the synthetic
    decimal hierarchy parent(k) = k div 10 over part keys (a forest
    whose depth is log10(maxkey) — self-scaling: deeper at bigger SF).

    Spark has no recursive CTE; the scale-correct translation is
    FRONTIER ITERATION: closure starts as the edge set, and each hop
    equi-joins only the PREVIOUS LEVEL's rows (the frontier) against
    the edges — one hash-join shuffle per level, O(depth) ≈ log(N)
    iterations, never re-joining the whole closure (the quadratic
    mistake).  localCheckpoint per level truncates the growing
    lineage, as in graph_pagerank and the connected-components rounds
    (scale_ops._cc_large_small_star).  The tree structure makes
    every generated pair unique, so the union needs no dedup.  Oracle
    is the genuine recursive CTE — proving the iterative plan equals
    the declarative recursion exactly."""
    part = load_table(spark, sf_dir, "part")
    edges = (
        part.filter(F.col("p_partkey") >= 1)
        .select(
            F.expr("p_partkey div 10").alias("ancestor"),
            F.col("p_partkey").alias("descendant"),
        )
        .filter(F.col("ancestor") >= 1)
        .transform(pin)
    )
    closure = edges.withColumn("depth", F.lit(1).cast("int"))
    frontier = closure
    max_depth = 40  # >> log10 of any conceivable key space; raise-guarded
    for _ in range(max_depth):
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.descendant") == F.col("e.ancestor"))
            .select(
                F.col("f.ancestor").alias("ancestor"),
                F.col("e.descendant").alias("descendant"),
                (F.col("f.depth") + 1).cast("int").alias("depth"),
            )
        )
        nxt = nxt.transform(pin)
        if nxt.count() == 0:
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    else:
        raise RuntimeError(
            f"join_recursive_closure: hierarchy deeper than {max_depth} levels"
        )
    return closure
