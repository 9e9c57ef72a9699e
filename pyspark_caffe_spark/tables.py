"""Table loaders — the single place fixture type gotchas are fixed.

All ten fixture tables (TESTDATA.md / FIXTURES.md) are loaded through
here so that every query sees identical, oracle-compatible types:

  * ``events.ts`` is normalised to a microsecond TimestampType matching
    DuckDB's native read of the same parquet, whichever physical
    layout is on disk (:func:`normalize_events_ts`).
  * ``embeddings.embedding`` stays ``array<float>`` on disk;
    :func:`load_embeddings` is the one ``(vec_id, emb, label)`` view
    with the vectors cast to ``array<double>`` (Spark's ``aggregate``
    with a double accumulator rejects float element types).
  * Hash-gated samples gate on :func:`lcg_hash`, which reduces an id
    before its multiply so that ids past 8.4e9 cannot overflow int64;
    content-hash ranks and buckets read :func:`md5_long`.

Cost note: ``spark.read.parquet`` without a schema launches a one-task
Spark job (named ``parquet``) that reads the file footer to infer the
schema — on every call.  :func:`parquet_schema` infers each file's
schema once and caches the ``StructType``, so every later load reads
with an explicit schema and builds its plan with no Spark job;
:func:`footers` reads a table's rows, row groups and bytes from the
same footers with ``pyarrow`` and caches them the same way, for
:func:`row_count` and for the one-split rule below; :func:`nation_lookup`
reads the two fixed-size TPC-H dimensions, ``nation`` and ``region``,
the same way and hands them to a query as literals, so no query scans
or broadcasts them.  The DataFrame is never cached: each load returns
a fresh relation with fresh attribute ids, so two loads of one table
can be self-joined.  Column pruning and predicate pushdown still
happen per-query via Catalyst.

One-split rule: :func:`load_table` returns ``df.coalesce(1)`` when the
table's footers hold exactly one row group in total and its bytes on
disk are at most the session's ``spark.sql.files.maxPartitionBytes``
(read from the session, never set).  The row group is parquet's unit
of scan parallelism, so such a table is read by one task however
Spark splits its bytes (a second byte-range split of it reads
nothing).  The scan reports no partitioning, so without the hint
every aggregate, window, dedup or global sort over it plans an
exchange whose map side is that one task; ``coalesce(1)`` is narrow
and ships nothing, and its ``SinglePartition`` output satisfies
every clustered, ordered and all-tuples distribution, so Catalyst
plans none of those exchanges.  The size guard keeps a table that
one task should not read alone on its parallel plan; a table of several
row groups (every fact table at scale, and each replica written by
``tools/make_superscale.py``) keeps its parallel scan and its
exchanges, and so does a path ``os.stat`` cannot see.  Explicit
``repartition`` calls and broadcasts are unchanged.

What it costs: every operator above the coalesce, up to the next
explicit repartition or broadcast, runs in one task, so the rule
trades reducer parallelism for fewer jobs.  That wins where the jobs
are small and the driver bounds them (every table of ``sf0.1``, at
most 10.8 MB).  It loses on a one-row-group table near the guard or
under heavy per-row work: on a 4-core box, with every ``sf0.1`` table
replicated ten times into one row group (``lineitem`` 114 MB,
``documents`` 6 MB), ``agg_hash_groupby``, ``join_multiway`` and
``dedup_candidate_verify`` ran 35-45% slower than with their
exchanges.  The byte guard bounds the scan, not that downstream work.
"""

from __future__ import annotations

import os
import weakref
from typing import Iterable, NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: The correctness-critical runtime confs: ``get_spark`` builds every
#: session with them and :func:`ensure_session_confs` forces them on any
#: other session.  ``nanosAsLong`` lets a nanosecond ``events.ts``
#: parquet be read at all (PySpark 4.x rejects it otherwise); a UTC
#: session time zone makes collected timestamps agree with DuckDB's
#: naive ones.
CORRECTNESS_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


# Sessions already configured — ensure_session_confs runs on EVERY
# load_table call, and each conf.set is a py4j round trip; memoizing on
# the live session object drops it to one pair of calls per session.
# WeakSet so a stopped/collected session can't pin memory or collide
# with a new session reusing the same address.
_CONFIGURED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the correctness-critical runtime confs on ANY session.

    The grading driver may hand us its own SparkSession built without
    our factory; both confs are runtime-settable, so defend here (the
    single chokepoint every query loads tables through). Idempotent.
    Memoized per session — but the memoized fast path still VERIFIES
    both values with cheap conf.get round trips, so an external
    harness resetting session.timeZone/nanosAsLong on the live session
    mid-run is re-corrected on the next table load (set only on drift:
    gets are read-only py4j calls, sets invalidate cached relations).
    """
    if spark in _CONFIGURED_SESSIONS and all(
        spark.conf.get(k, "") == v for k, v in CORRECTNESS_CONFS.items()
    ):
        return
    for k, v in CORRECTNESS_CONFS.items():
        spark.conf.set(k, v)
    _CONFIGURED_SESSIONS.add(spark)


def _per_file_version(cache: dict, path: str, compute, uncached):
    """``compute()`` once per version of the file at ``path``, cached in
    ``cache`` under its ``os.stat`` identity (path, mtime, size), so a
    rewritten or regenerated file is computed again.  Paths ``os.stat``
    cannot see (object-store URIs) get ``uncached()`` on every call."""
    try:
        st = os.stat(path)
    except OSError:
        return uncached()
    key = (path, st.st_mtime_ns, st.st_size)
    value = cache.get(key)
    if value is None:
        if len(cache) >= 256:  # bounded: keys of rewritten files dangle
            cache.clear()
        value = cache[key] = compute()
    return value


# File version → the StructType inferred from it.  The schema depends
# only on the file, since inference runs after ensure_session_confs has
# forced nanosAsLong: no session key.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}
# File version → its footer summary.
_FOOTERS: dict[tuple[str, int, int], "Footers"] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet at ``path``, inferred once per file
    version.

    Inference is a footer-reading Spark job; a path ``os.stat`` cannot
    see is inferred on every call, as an uncached
    ``spark.read.parquet`` would.
    """

    def infer() -> StructType:
        ensure_session_confs(spark)
        return spark.read.parquet(path).schema

    return _per_file_version(_SCHEMAS, path, infer, infer)


class Footers(NamedTuple):
    """What the parquet footers of a table say, plus its bytes on disk."""

    rows: int
    row_groups: int
    bytes: int


def footers(path: str) -> Footers | None:
    """The :class:`Footers` of the parquet file or directory at
    ``path``, read with ``pyarrow`` on the driver once per file
    version, so it runs no Spark job; ``None`` for a path ``os.stat``
    cannot see."""

    def read() -> Footers:
        frags = pq.ParquetDataset(path).fragments
        return Footers(
            sum(f.metadata.num_rows for f in frags),
            sum(f.metadata.num_row_groups for f in frags),
            sum(os.path.getsize(f.path) for f in frags),
        )

    return _per_file_version(_FOOTERS, path, read, lambda: None)


def row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The row count of one fixture table, summed from its
    :func:`footers`, so it runs no Spark job.  A path ``os.stat``
    cannot see is counted with Spark on every call.
    """
    summary = footers(f"{sf_dir}/{name}.parquet")
    return summary.rows if summary else load_table(spark, sf_dir, name).count()


#: Most rows :func:`nation_lookup` reads from ``nation`` or ``region``.
#: TPC-H fixes them at 25 and 5 at every scale factor; a table past
#: this is no longer a fixed dimension, and its lookup would put that
#: many literals into every plan that uses it.
DIM_ROW_CAP = 1000
# File version → the validated key rows of a nation or region table.
_DIM_ROWS: dict[tuple[str, int, int], tuple] = {}


class Nation(NamedTuple):
    """A nation as :func:`nation_lookup` returns it; ``r_name`` is null
    when no region has its ``n_regionkey``."""

    n_name: str | None
    n_regionkey: int | None
    r_name: str | None


def _dim_rows(spark: SparkSession, sf_dir: str, name: str, cols: list[str]) -> tuple:
    """The ``cols`` rows of a fixed-size dimension whose first column
    is its key, null keys dropped, once per file version."""
    path = f"{sf_dir}/{name}.parquet"

    def check_size(n: int) -> None:
        if n > DIM_ROW_CAP:
            raise ValueError(f"{path}: over {DIM_ROW_CAP} rows, not a fixed-size dimension")

    def checked(rows: list[tuple]) -> tuple:
        check_size(len(rows))
        rows = [r for r in rows if r[0] is not None]
        if len({r[0] for r in rows}) != len(rows):
            raise ValueError(f"{path}: {cols[0]} is not unique")
        return tuple(rows)

    def from_file() -> tuple:
        check_size(row_count(spark, sf_dir, name))
        t = pq.read_table(path, columns=cols)
        return checked(list(zip(*(t.column(c).to_pylist() for c in cols))))

    def with_spark() -> tuple:
        df = load_table(spark, sf_dir, name).select(*cols).limit(DIM_ROW_CAP + 1)
        return checked([tuple(r) for r in df.collect()])

    return _per_file_version(_DIM_ROWS, path, from_file, with_spark)


def nation_lookup(
    spark: SparkSession, sf_dir: str, regions: Iterable[str] | None = None
) -> dict[int, Nation]:
    """``n_nationkey`` → :class:`Nation` for the ``nation`` table of
    ``sf_dir``, read on the driver, for a query that joins ``nation``
    (and ``region``) only to label or filter its rows.

    Without ``regions`` it is ``nation`` alone, as a query joining only
    ``nation`` sees it: every nation with a non-null key, ``r_name``
    null where no region matches.  With ``regions`` it is ``nation ⋈
    region`` restricted to those region names: a nation whose region
    key is null or matches no region is dropped, as the inner join
    drops it.

    Both tables are read with ``pyarrow`` and cached per file version,
    so the lookup runs no Spark job; a path ``os.stat`` cannot see is
    collected with Spark on every call instead.  Raises ``ValueError``
    if either table has more than :data:`DIM_ROW_CAP` rows or a
    duplicate non-null key: a literal lookup could not stand in for the
    join then.
    """
    nations = _dim_rows(spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"])
    region_names = dict(_dim_rows(spark, sf_dir, "region", ["r_regionkey", "r_name"]))
    lookup = {k: Nation(n, rk, region_names.get(rk)) for k, n, rk in nations}
    if regions is None:
        return lookup
    keep = set(regions)
    return {k: v for k, v in lookup.items() if v.r_name in keep}


def literal_lookup(key: Column, mapping: dict[int, str | None]) -> Column:
    """``mapping[key]`` as a string column: ``element_at`` over a
    literal map, null for a key not in ``mapping``."""
    pairs = [F.lit(x) for kv in mapping.items() for x in kv]
    if not pairs:
        return F.lit(None).cast("string")
    return F.element_at(F.create_map(*pairs), key)


def normalize_events_ts(df: DataFrame, schema: StructType) -> DataFrame:
    """Turn the events ``ts`` column into a session-UTC TimestampType at
    microsecond precision, given the schema ``df`` was read with.

    The fixture generator has shipped events.ts as either INT64
    nanoseconds (read as LongType via nanosAsLong=true) or as a parquet
    timestamp[us] (read as TIMESTAMP_NTZ).  The DuckDB oracle sees
    TIMESTAMP either way; a TimestampType column is left as it is.
    """
    ts_type = schema["ts"].dataType.typeName()
    if ts_type in ("long", "bigint"):
        # INTEGER division — `/ 1000` goes through double and loses
        # micros at 1.7e18 nanos.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # NTZ wall-clock == UTC instant under session timeZone=UTC.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _one_split(spark: SparkSession, path: str) -> bool:
    """Whether the parquet at ``path`` is one unit of scan parallelism:
    one row group in all its footers, and no more bytes on disk than
    the session's ``spark.sql.files.maxPartitionBytes``."""
    summary = footers(path)
    return (
        summary is not None
        and summary.row_groups == 1
        # Spark's own parse of the conf, whatever its unit suffix
        and summary.bytes <= spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with oracle-compatible column types.

    Reads with the cached schema (:func:`parquet_schema`): after the
    first load of a file, a load runs no Spark job.  A table that is
    one scan split (:func:`_one_split`) is read as one partition,
    ``coalesce(1)``; see the cost note in the module docstring.
    """
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df, schema)
    return df.coalesce(1) if _one_split(spark, path) else df


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = False) -> dict[str, DataFrame]:
    """Load all fixture tables; optionally register temp views by name."""
    tables = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
    if register_views:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
    return tables


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``embeddings`` table as ``(vec_id, emb array<double>, label)``.

    The double cast is required before Spark higher-order aggregation
    with a double accumulator, and gives value parity with DuckDB
    (which promotes to double in list arithmetic).  FIXTURES.md:
    vectors are length-64 and unit-normalised, so dot product ==
    cosine similarity.
    """
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


#: The LCG hash gate as DuckDB SQL, ``{col}`` reduced first like
#: :func:`lcg_hash`.
LCG_SQL = "((({col} % 2147483647) * 1103515245 + 12345) % 2147483647)"


def md5_long(s: Column, n: int) -> Column:
    """The first ``n`` hex digits of ``md5(s)`` as a long,
    ``conv(substring(md5(s), 1, n), 16, 10)``: a uniform content hash
    that is the same number in Spark and in the DuckDB oracles (which
    spell it ``CAST('0x' || SUBSTR(MD5(s), 1, n) AS BIGINT)``) and does
    not depend on partitioning.  ``n`` ≤ 15 keeps it below 2^60."""
    return F.conv(F.substring(F.md5(s), 1, n), 16, 10).cast("long")


def lcg_hash(col: Column, inc: int = 12345) -> Column:
    """``((col mod p) * 1103515245 + inc) mod p`` with the Mersenne
    prime p = 2^31 - 1: the deterministic hash behind every hash-gated
    sample, exact in both engines, so a gated row set is identical in
    Spark and in the DuckDB oracle and does not depend on partitioning.

    ``col`` is reduced mod p BEFORE the multiply: the raw product
    overflows int64 for ids ≳ 8.4e9 (a silent wrap without ANSI mode,
    ARITHMETIC_OVERFLOW with it, an error in DuckDB), while the reduced
    product stays below 2^62.  For 0 ≤ id < p the result equals the
    unreduced ``(id * 1103515245 + inc) % p`` the oracles spell.  The
    result is non-negative: ``pmod`` of a negative id is its positive
    residue.
    """
    p = F.lit((1 << 31) - 1)
    return F.pmod(F.pmod(col, p) * F.lit(1103515245) + F.lit(inc), p)
