"""Scans, sources/sinks, projection/filter, sort/limit, set ops.

SURVEY.md §2.1, §2.2, §2.6, §2.7.  All pure built-in DataFrame ops —
no Python executes per-row, so every query here stays inside
whole-stage codegen and gets predicate pushdown / column pruning from
Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_caffe_spark.money import exact_money_sum
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.tables import lcg_hash, load_table

# Scratch space for sink/roundtrip ops (gitignored, inside the repo —
# the environment forbids writes elsewhere).
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def _scratch(name: str, sf_dir: str | None = None) -> str:
    """Path of scratch entry ``name``; with ``sf_dir``, one entry per
    scale factor (``name`` + the sf dir's last component, trailing
    slash or not)."""
    os.makedirs(SCRATCH, exist_ok=True)
    if sf_dir is not None:
        name += os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(SCRATCH, name)


# ---------------------------------------------------------------------------
# §2.1 scans / sources / sinks
# ---------------------------------------------------------------------------


@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table parquet scan. Catalyst prunes columns per consumer;
    at 100 TB this is a splittable columnar scan, one task per row-group
    range (``spark.sql.files.maxPartitionBytes``)."""
    return load_table(spark, sf_dir, "lineitem")


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem slice to CSV, re-read with an explicit schema.
    The roundtrip is value-exact (Spark writes doubles at full
    precision), so the oracle is simply the source slice.

    Explicit schema (never inferSchema) — schema inference is a full
    extra pass over 100 TB of text.
    """
    src = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    path = _scratch("csv_roundtrip")
    src.write.mode("overwrite").option("header", True).csv(path)
    schema = src.schema
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id < 2000
    """,
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an events slice to JSON-lines, re-read with explicit
    schema — value-exact roundtrip, so the oracle is the source
    slice."""
    src = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    path = _scratch("json_roundtrip")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(src.schema).json(path)
    return back.select("event_id", "user_id", "event_type", "value")


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey < 800
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a customer slice to ORC, re-read — second columnar format
    (same pushdown/pruning machinery as parquet; lossless, so fully
    oracled)."""
    src = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 800)
    path = _scratch("orc_roundtrip")
    src.write.mode("overwrite").orc(path)
    back = spark.read.schema(src.schema).orc(path)
    return back.select("c_custkey", "c_name", "c_acctbal")


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part WHERE p_partkey < 400
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a part slice to XML (built-in source since Spark 4), re-read
    with an explicit schema — the fourth file format in the source
    matrix (columnar: parquet/orc; text: csv/json/xml).  XML entities
    round-trip losslessly (writer escapes &/<> and reader unescapes;
    doubles use the same shortest-round-trip text as the JSON writer),
    so the oracle is the source slice.  Explicit schema as always:
    inference is an extra full pass over the data at scale."""
    src = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 400).select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    path = _scratch("xml_roundtrip")
    src.write.mode("overwrite").format("xml").option("rowTag", "part").save(path)
    back = (
        spark.read.schema(src.schema).format("xml").option("rowTag", "part").load(path)
    )
    return back.select("p_partkey", "p_name", "p_brand", "p_retailprice")


@query(
    "sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by status; read ONE partition back.

    The read-back filter on the partition column must prune at planning
    time (partition pruning) — at scale, reading one partition of a
    status-partitioned 100 TB table touches only that directory.
    """
    src = load_table(spark, sf_dir, "orders")
    path = _scratch("sink_partitioned")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


# ---------------------------------------------------------------------------
# §2.2 projection / filter / predicates
# ---------------------------------------------------------------------------


@query(
    "project_compute",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + arithmetic; reads exactly 5 columns off disk."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + F.col("l_tax"))).alias("charged"),
    )


@query(
    "filter_conj",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity < 25 AND l_returnflag = 'A' AND l_linenumber IN (1, 2, 3)
    """,
)
def filter_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate (range + equality + IN) — all three land in
    ``PushedFilters`` on the parquet scan (row-group min/max skipping)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 25)
        & (F.col("l_returnflag") == "A")
        & F.col("l_linenumber").isin(1, 2, 3)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "filter_null_like",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_size
    FROM part
    WHERE p_type LIKE 'PRO%' AND p_size BETWEEN 10 AND 30 AND p_brand IS NOT NULL
    """,
)
def filter_null_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").like("PRO%")
        & F.col("p_size").between(10, 30)
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name", "p_type", "p_size")


@query(
    "filter_subquery_in",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 48)
    """,
)
def filter_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as a left-semi join — the same rewrite Catalyst
    applies to the SQL form; semi-join build side is the filtered
    lineitem keys (small after the selective filter)."""
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 48)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(keys, "o_orderkey", "left_semi").select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2.6 sort / limit / top-k / sampling
# ---------------------------------------------------------------------------


@query(
    "sort_multi_key",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer
    ORDER BY c_mktsegment ASC NULLS LAST, c_acctbal DESC
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key sort mixed asc/desc; range-partitioned global sort
    (sampled bounds) — no single-reducer bottleneck at scale."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_custkey", "c_mktsegment", "c_acctbal").orderBy(
        F.asc_nulls_last("c_mktsegment"), F.desc("c_acctbal")
    )


@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit compiles to TakeOrderedAndProject: per-partition
    top-k then a k-row merge on the driver — never a full global sort.
    Tie-broken on o_orderkey so the row set is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 5 OFFSET 10
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination. Fully ordered (tiebreak) so pages are stable."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(10)
        .limit(5)
    )


@query(
    "sample_seeded",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE (((o_orderkey % 2147483647) * 1103515245 + 12345) % 2147483647) % 10 = 0
    """,
)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via hash-gating on the key (LCG mix
    mod a Mersenne prime, keep h % 10 == 0) — executes scan-side with
    no shuffle, like a Bernoulli sample, but content-deterministic:
    ``df.sample(seed=...)`` draws per-partition, so the SAME seed
    yields a DIFFERENT sample after any repartition — a silent
    reproducibility trap in a 100 TB pipeline where partitioning is
    chosen by AQE. Hash-gating is stable across partitioning, engines
    (exact SQL twin), and reruns."""
    orders = load_table(spark, sf_dir, "orders")
    h = lcg_hash(F.col("o_orderkey"))
    return orders.filter(F.pmod(h, F.lit(10)) == 0).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@query(
    "set_union_all",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — no shuffle, partitions concatenate."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_totalprice")
    b = orders.filter(F.col("o_orderstatus") == "P").select("o_orderkey", "o_totalprice")
    return a.unionByName(b)


@query(
    "set_union_distinct",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
    UNION
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_totalprice")
    b = orders.filter(F.col("o_orderstatus") == "P").select("o_orderkey", "o_totalprice")
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT DISTINCT user_id AS o_custkey FROM events WHERE event_type = 'error'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with orders minus users that produced error events."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    a = orders.select("o_custkey").distinct()
    b = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("o_custkey"))
        .distinct()
    )
    return a.subtract(b)  # EXCEPT DISTINCT: one anti-join, not the exceptAll count-replication rewrite


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL: each custkey kept min(count_a, count_b)
    times — the bag semantics `intersect` (distinct) loses. Spark plans
    this as one count-replicating aggregation per side + a join, same
    shuffle shape as the distinct variant."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT user_id AS o_custkey FROM events WHERE event_type = 'error'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: per-order custkeys minus one occurrence per
    error event — count_a - count_b copies survive (set_except's
    anti-join form would drop a customer entirely on a single error)."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    a = orders.select("o_custkey")
    b = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("o_custkey")
    )
    return a.exceptAll(b)


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS note
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, 'v2' AS note
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations of the same
    table — v1 carries o_totalprice, v2 drops it and adds a note
    column — unified by mergeSchema=true into the superset schema with
    NULL fill. The 100 TB reality this models: a lake table whose
    producers changed schema mid-history must stay readable without
    rewriting petabytes; Parquet + mergeSchema gives that, and the
    footer-only schema merge costs no data I/O."""
    orders = load_table(spark, sf_dir, "orders")
    path = _scratch("schema_evolution")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.lit("v2").alias("note")
    )
    # plain v1/v2 dir names, NOT key=value: a Hive-style gen=1 segment
    # would be inferred as a partition column by any future read of the
    # parent scratch path
    v1.write.mode("overwrite").parquet(f"{path}/v1")
    v2.write.mode("overwrite").parquet(f"{path}/v2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/v1", f"{path}/v2"
    )
    return back.select("o_orderkey", "o_totalprice", "note")


@query(
    "scan_binaryfile",
    oracle="""
    SELECT 'doc_' || doc_id || '.bin' AS fname,
           CAST(n_chars AS BIGINT)    AS length
    FROM documents WHERE doc_id < 8
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — Spark's ingestion path for raw media files
    (images/audio/video land as one row per file: path, modTime,
    length, content binary). Eight docs' bytes are materialized as
    .bin files and read back; the oracle checks (name, length) against
    the documents table (ASCII fixtures ⇒ bytes == chars). At 100 TB
    the same reader fans out over an object-store listing; per-file
    rows then feed the multimodal_* decode stages."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 8)
    d = _scratch("binfiles_", sf_dir)
    os.makedirs(d, exist_ok=True)
    for r in docs.select("doc_id", "text").collect():  # 8 rows, bounded
        with open(os.path.join(d, f"doc_{r['doc_id']}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(d)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length"),
    )


@query(
    "sink_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ), upd AS (
      SELECT o_orderkey, ROUND(o_totalprice + 1000, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
           ROUND(COALESCE(u.o_totalprice, b.o_totalprice), 2) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NULL THEN 'kept'
                WHEN b.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (no lakehouse jars in
    this container): base table full-outer-joined with a staged update
    set — matched rows take the update, unmatched-by-source rows keep
    the base value, unmatched-by-target rows insert — then the merged
    result is written and read back (copy-on-write, what Delta/Iceberg
    MERGE does under the hood per touched file). Pairs with
    dedup_latest for CDC compaction. At scale the join shuffles on the
    upsert key; with a bucketed base table (sink_bucketed) the shuffle
    drops to the update side only."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey", "o_totalprice")
    upd = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") + 1000, 2).alias("o_totalprice")
    )
    b, u = base.alias("b"), upd.alias("u")
    merged = (
        b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
        .select(
            F.coalesce(F.col("b.o_orderkey"), F.col("u.o_orderkey")).alias("o_orderkey"),
            F.round(
                F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")), 2
            ).alias("o_totalprice"),
            F.when(F.col("u.o_orderkey").isNull(), "kept")
            .when(F.col("b.o_orderkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("merge_action"),
        )
    )
    path = _scratch("merge_upsert_", sf_dir)
    merged.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@query(
    "profile_table",
    oracle="""
    SELECT COUNT(*)                                        AS n_rows,
           COUNT(DISTINCT o_custkey)                       AS n_custkeys,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_null_priority,
           ROUND(MIN(o_totalprice), 4)                     AS min_price,
           ROUND(MAX(o_totalprice), 4)                     AS max_price,
           ROUND(AVG(o_totalprice), 4)                     AS avg_price,
           MIN(o_orderdate)                                AS first_date,
           MAX(o_orderdate)                                AS last_date,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)   AS n_statuses
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (the ANALYZE/data-quality sweep a pipeline
    runs before trusting a new drop): row count, key cardinality, null
    counts, numeric min/max/avg, date range, low-cardinality domain
    size — ALL in one scan (one partial-agg shuffle of a single tuple).
    At 100 TB the same single-pass profile is how you detect schema
    drift and null explosions before they poison a training run;
    exact distincts can swap to approx_count_distinct sketches."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)).cast("long").alias("n_null_priority"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_statuses"),
    )


@query(
    "scan_count_meta",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def scan_count_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table COUNT(*) — reads ZERO data columns (plan-locked:
    ``ReadSchema: struct<>``), so the scan cost is parquet footer +
    row-group metadata decoding, not column IO.  At 100 TB the
    difference between counting via metadata and counting via a
    materialized column is the whole job."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count("*").alias("n_rows"))


@query(
    "scan_corrupt_tolerant",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(25 AS BIGINT) AS n_corrupt
    FROM events WHERE event_id < 1000
    """,
)
def scan_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant ingestion: a JSONL file with 25 planted corrupt
    lines read in PERMISSIVE mode with a ``_corrupt_record`` column —
    malformed rows become NULL-fielded rows carrying the raw line, and
    the query reports good vs corrupt counts.  At 100 TB dirty input
    is a certainty; the alternative (FAILFAST) kills the job on row
    one of bad data.  The oracle counts the clean slice (the planted
    corrupt total is fixture-constant by construction)."""
    src = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    path = _scratch("corrupt_jsonl")
    src.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).json(path)
    corrupt = spark.createDataFrame(
        [(f'{{"event_id": broken json line {i}',) for i in range(25)], "line string"
    )
    corrupt.coalesce(1).write.mode("append").text(path)
    schema = "event_id long, user_id long, event_type string, value double, _corrupt_record string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    back = back.cache()  # single read; good/corrupt split from one pass
    return back.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
    )


@query(
    "sink_overwrite_dynamic",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 4))) AS DOUBLE) AS total
    FROM (
      SELECT * FROM orders WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 200000
    )
    GROUP BY o_orderstatus
    """,
)
def sink_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE semantics): write
    the full status-partitioned table, then overwrite ONLY the 'F'
    partition with a filtered recompute — with
    ``partitionOverwriteMode=dynamic`` the other partitions are
    untouched (static mode would silently truncate them: the classic
    warehouse data-loss trap).  Read-back aggregates prove 'F' was
    replaced and the rest survived."""
    src = load_table(spark, sf_dir, "orders")
    path = _scratch("sink_overwrite_dynamic")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            src.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000))
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        # exact long split-sum (money.py): order-independent, no
        # per-row BigDecimal
        exact_money_sum(F.col("o_totalprice"), "total"),
    )


@query(
    "scan_recursive_glob",
    oracle="""
    SELECT n_nation, n_region FROM (
      SELECT COUNT(*) AS n_nation FROM nation
    ), (
      SELECT COUNT(*) AS n_region FROM region
    )
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested data-lake layout: tables written under team/date-style
    subdirectories (depth 2, NON-partition dir names) and read with
    ``recursiveFileLookup`` — the ingestion shape for lakes organized
    by convention rather than Hive partitioning.  Returns per-table
    counts proving both nesting levels were discovered."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = _scratch("recursive_glob")
    nation.write.mode("overwrite").parquet(f"{base}/teamA/d20240101/nation")
    region.write.mode("overwrite").parquet(f"{base}/teamB/d20240102/region")
    n = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{base}/teamA")
        .count()
    )
    r = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{base}/teamB")
        .count()
    )
    return spark.createDataFrame([(n, r)], "n_nation long, n_region long")


@query(
    "sink_sorted_stats",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-06-01'
    """,
)
def sink_sorted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-friendly layout: the table is written
    ``sortWithinPartitions(l_shipdate)`` so each parquet row group
    covers a narrow l_shipdate range; the selective read-back filter
    then skips most row groups on min/max statistics alone.  This is
    the layout lever for NON-partition columns at 100 TB (clustering /
    z-order-lite): partitioning handles one coarse key, sorted row
    groups handle the rest.  Lossless write ⇒ the oracle is the source
    filter."""
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    path = _scratch("sink_sorted_stats")
    (
        src.repartition(4)
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .option("parquet.block.size", 262144)  # small row groups: make skipping visible at fixture scale
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp")
    )
    return back.select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")


@query(
    "sink_bloom_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders WHERE o_custkey IN (7, 11, 13)
    """,
)
def sink_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS for point lookups on a scattered key —
    the third layout lever after partitioning (sink_partitioned) and
    sorted min/max stats (sink_sorted_stats).  The table is laid out
    by date, so o_custkey values span the full range in EVERY row
    group and min/max skipping is useless for customer lookups; a
    per-row-group bloom filter on o_custkey lets the reader skip row
    groups that provably lack the probed keys — at 100 TB this turns
    a needle-in-haystack customer audit from a full scan into a few
    row groups, with no second copy of the data and no re-sort.

    The write enables ``parquet.bloom.filter.enabled#o_custkey`` (NDV
    hint sizes the filter); the read-back probes an IN list, which the
    scan pushes down (PushedFilters: In(o_custkey...)) where parquet-mr
    tests it against each row group's bloom before decoding pages.
    Dictionary encoding is disabled for the probe column only: at
    fixture scale custkey dict-encodes fully and parquet-mr then
    (correctly) omits the bloom — the dictionary already answers
    membership — which would mask the feature; at 100 TB the column's
    NDV blows past the dictionary-page cap and falls back to
    plain-encoded-plus-bloom, the encoding this reproduces.  Lossless
    write ⇒ the oracle is the source filter.  tests/test_plans.py
    asserts the footer actually carries the bloom offsets (and ONLY on
    the probe column) and that the IN filter reaches the scan."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    path = _scratch("sink_bloom_", sf_dir)
    (
        src.repartition(4)
        .sortWithinPartitions("o_orderdate")  # date layout ⇒ custkey scattered per row group
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .option("parquet.block.size", 262144)  # small row groups: make skipping visible at fixture scale
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("o_custkey").isin(7, 11, 13))
    return back.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")


@query(
    "scan_metadata_cols",
    oracle="""
    SELECT 'lineitem.parquet' AS fname, COUNT(*) AS n FROM lineitem
    """,
)
def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file columns (file_name / file_path /
    row_index) — per-file lineage without a custom reader: the
    provenance tool for quarantining a bad upstream file out of a
    100 TB lake (filter on _metadata.file_name touches only that
    file).  Grouping by file_name here proves the column is read
    alongside the data in one scan."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        df.select(F.col("_metadata.file_name").alias("fname"))
        .groupBy("fname")
        .agg(F.count("*").alias("n"))
    )


def _fk_audit(fact: DataFrame, fkey: str, dim: DataFrame, dkey: str, name: str) -> DataFrame:
    """One FK relationship check: LEFT JOIN the fact's key column
    against the dim's DISTINCT key set (distinct ⇒ no fanout, row count
    preserved) and count unmatched rows. Column-pruned to one column
    per side, so the scan reads nothing else."""
    dim_keys = dim.select(F.col(dkey).alias("__dk")).distinct()
    joined = fact.select(F.col(fkey).alias("__fk")).join(
        dim_keys, F.col("__fk") == F.col("__dk"), "left"
    )
    return joined.agg(
        F.count("*").alias("checked_rows"),
        F.sum(F.when(F.col("__dk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("orphan_rows"),
    ).select(F.lit(name).alias("relationship"), "checked_rows", "orphan_rows")


@query(
    "profile_referential",
    oracle="""
    WITH rel AS (
      SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS relationship,
             COUNT(*) AS checked_rows,
             CAST(SUM(CASE WHEN d.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows
      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) d
        ON l_orderkey = d.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey -> part.p_partkey',
             COUNT(*),
             CAST(SUM(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) d
        ON l_partkey = d.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
             COUNT(*),
             CAST(SUM(CASE WHEN d.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) d
        ON l_suppkey = d.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey -> customer.c_custkey',
             COUNT(*),
             CAST(SUM(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) d
        ON o_custkey = d.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey -> nation.n_nationkey',
             COUNT(*),
             CAST(SUM(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM customer LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) d
        ON c_nationkey = d.n_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey -> region.r_regionkey',
             COUNT(*),
             CAST(SUM(CASE WHEN d.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM nation LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) d
        ON n_regionkey = d.r_regionkey
    )
    SELECT relationship, checked_rows, orphan_rows FROM rel
    """,
)
def profile_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-row counts for every FK
    relationship in the star schema, one result row per relationship —
    the pre-flight a pipeline runs before joining a new data drop
    (orphans silently vanish from inner joins, skewing every metric
    downstream).

    Scale shape: each check is a column-pruned LEFT JOIN against a
    deduplicated key set — small dims broadcast (nation/region/
    supplier/customer); the fact-to-fact check (lineitem -> orders)
    shuffles only the two key columns, and each branch reduces to a
    single tuple map-side before the final tiny union. At 100 TB the
    exact distinct on the dim side can swap to a bloom filter for a
    one-sided, no-shuffle probe with a bounded false-negative audit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    checks = [
        _fk_audit(li, "l_orderkey", orders, "o_orderkey",
                  "lineitem.l_orderkey -> orders.o_orderkey"),
        _fk_audit(li, "l_partkey", part, "p_partkey",
                  "lineitem.l_partkey -> part.p_partkey"),
        _fk_audit(li, "l_suppkey", supp, "s_suppkey",
                  "lineitem.l_suppkey -> supplier.s_suppkey"),
        _fk_audit(orders, "o_custkey", cust, "c_custkey",
                  "orders.o_custkey -> customer.c_custkey"),
        _fk_audit(cust, "c_nationkey", nation, "n_nationkey",
                  "customer.c_nationkey -> nation.n_nationkey"),
        _fk_audit(nation, "n_regionkey", region, "r_regionkey",
                  "nation.n_regionkey -> region.r_regionkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource API — the custom-connector extension surface
# ---------------------------------------------------------------------------

try:  # pragma: no cover - import surface probed once
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthTelemetrySource(DataSource):
        """Deterministic synthetic telemetry source — a stand-in for a
        real custom connector (REST endpoint, message queue, vendor
        format).  Rows are a pure integer function of the record id,
        so output is engine-checkable; `partitions()` splits the id
        space round-robin, which is the API hook a 100 TB connector
        uses to expose parallelism (one InputPartition per shard /
        file / topic-partition → one Spark task each)."""

        @classmethod
        def name(cls) -> str:
            return "synth_telemetry"

        def schema(self) -> str:
            return "rec_id bigint, shard bigint, metric bigint"

        def reader(self, schema):
            return _SynthTelemetryReader(self.options)

    class _SynthTelemetryReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 10000))
            self.p = int(options.get("partitions", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.p)]

        def read(self, partition):
            start = partition.value
            for rec in range(start, self.n, self.p):
                h = (rec * 1103515245 + 12345) % 2147483647
                yield (rec, rec % 8, h % 1000)

    _HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover
    _HAS_PY_DATASOURCE = False


@query(
    "scan_python_datasource",
    oracle="""
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(metric) AS BIGINT) AS sum_metric,
           CAST(MIN(rec_id) AS BIGINT) AS min_rec,
           CAST(MAX(rec_id) AS BIGINT) AS max_rec
    FROM (
      SELECT g AS rec_id, g % 8 AS shard,
             ((g * 1103515245 + 12345) % 2147483647) % 1000 AS metric
      FROM generate_series(0, 9999) t(g)
    )
    GROUP BY shard
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API — the
    extension surface for sources Spark has no built-in reader for.
    The registered source declares a schema, exposes parallelism
    through `partitions()` (8 input partitions → 8 concurrent read
    tasks; a real connector returns one per file/shard/topic-
    partition), and streams rows per partition.  The query aggregates
    per shard, proving every partition was read exactly once.

    The generator is integer-pure, so DuckDB reproduces it from
    generate_series — a full value oracle over a custom connector.
    At 100 TB the only change is partitions() returning more splits;
    the per-task read path is identical."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark.sql.datasource not available")
    spark.dataSource.register(_SynthTelemetrySource)
    df = (
        spark.read.format("synth_telemetry")
        .option("n", 10000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.sum("metric").alias("sum_metric"),
        F.min("rec_id").alias("min_rec"),
        F.max("rec_id").alias("max_rec"),
    )


try:  # pragma: no cover - import surface probed once
    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _JsonlCommitMessage(WriterCommitMessage):
        def __init__(self, tmp_name: str, n_rows: int):
            self.tmp_name = tmp_name
            self.n_rows = n_rows

    class _JsonlTaskWriter:
        """Task half of the two-phase JSONL sinks (``scratch_jsonl``
        here, the streaming ``epoch_jsonl``): each task writes one
        invisible ``_tmp-*`` file and reports it in a commit message;
        the subclass's driver-side commit names the files through
        :meth:`_install` and stamps its manifest."""

        def __init__(self, path: str):
            self.path = path

        def write(self, iterator):
            import json as _json
            import uuid as _uuid

            os.makedirs(self.path, exist_ok=True)
            tmp = os.path.join(self.path, f"_tmp-{_uuid.uuid4().hex}.jsonl")
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _JsonlCommitMessage(os.path.basename(tmp), n)

        def _install(self, messages, part_name) -> int:
            """Rename every non-empty temp file to ``part_name(i)`` (i
            counts the installed files) and return the installed rows.
            A failed task hands the driver a None message: skip it
            (m.tmp_name on None would raise AttributeError past the
            OSError-only guards and mask the real task failure); empty
            partitions delete their temp file instead of renaming a
            zero-row part in."""
            total = part = 0
            for m in messages:
                if m is None:
                    continue
                src = os.path.join(self.path, m.tmp_name)
                if m.n_rows == 0:
                    os.remove(src)
                    continue
                os.rename(src, os.path.join(self.path, part_name(part)))
                part += 1
                total += m.n_rows
            return total

        def abort(self, messages, batchId: int | None = None) -> None:
            for m in messages:
                if m is None:
                    continue
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except OSError:
                    pass

    class _ScratchJsonlSink(DataSource):
        """Custom TRANSACTIONAL sink on the Python DataSource writer
        API.  Tasks write to invisible temp files and report them in
        commit messages; only the DRIVER's commit() renames them into
        place and stamps a manifest — the same two-phase protocol every
        exactly-once Spark sink uses, so a failed/speculative task can
        never leave a half-written partition visible."""

        @classmethod
        def name(cls) -> str:
            return "scratch_jsonl"

        def writer(self, schema, overwrite: bool):
            return _ScratchJsonlWriter(self.options["path"])

    class _ScratchJsonlWriter(_JsonlTaskWriter, DataSourceWriter):
        def commit(self, messages):
            total = self._install(messages, lambda i: f"part-{i:05d}.jsonl")
            with open(os.path.join(self.path, "_MANIFEST"), "w") as f:
                f.write(str(total))

except ImportError:  # pragma: no cover
    pass


@query(
    "sink_python_datasource",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_orderstatus
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom transactional sink: filtered
    orders → scratch_jsonl (task temp files → driver commit renames +
    manifest) → read back the COMMITTED files → aggregate.  The
    read-back equals the oracle only if every partition was committed
    exactly once and no temp file leaked into the visible set.

    Integer-only payload keeps the JSON round-trip lossless, so the
    oracle is a full value hash.  At 100 TB the pattern is unchanged:
    one temp file per task, commit cost is |tasks| renames on the
    driver — O(metadata), not O(data)."""
    import shutil

    sink_dir = _scratch("pyds_sink_", sf_dir)
    shutil.rmtree(sink_dir, ignore_errors=True)
    spark.dataSource.register(_ScratchJsonlSink)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    (
        orders.select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.format("scratch_jsonl")
        .option("path", sink_dir)
        .mode("append")
        .save()
    )
    assert os.path.exists(os.path.join(sink_dir, "_MANIFEST"))
    back = spark.read.json(os.path.join(sink_dir, "part-*.jsonl"))
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query(
    "api_pandas_on_spark",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18, 4))), 2)
                AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY 1, 2
    """,
)
def api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third user API surface — pandas-on-Spark: a pandas-style
    pipeline (boolean-mask filter, dt accessor for the year) compiles
    to the SAME Catalyst plan as the DataFrame spelling, then
    ``to_spark()`` hands the frame to the decimal-exact aggregation —
    the documented interop pattern (pandas API for exploratory
    transforms, DataFrame API where exact SQL semantics matter).

    Scale note: pandas-on-Spark ops stay distributed — nothing here
    materializes on the driver; the filter pushes to the scan exactly
    as the native spelling does.  A user migrating a single-machine
    pandas ETL to 100 TB changes the import line, not the pipeline."""
    import pyspark.pandas as ps

    psdf = ps.read_parquet(os.path.join(sf_dir, "orders.parquet"))
    psdf = psdf[psdf["o_totalprice"] > 100000]
    psdf["year"] = psdf["o_orderdate"].dt.year
    sdf = psdf.to_spark()
    return sdf.groupBy(
        F.col("year").cast("long").alias("year"), "o_orderstatus"
    ).agg(
        F.count("*").alias("n"),
        F.round(exact_money_sum(F.col("o_totalprice")), 2).alias("total"),
    )
