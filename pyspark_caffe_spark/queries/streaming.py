"""Streaming operators — SURVEY.md §2.9.

The ``events`` parquet is replayed as a file-source stream
(``readStream`` + ``trigger(availableNow=True)`` + memory sink), which
drains all input deterministically and stops — so the final memory
table is comparable against a batch DuckDB oracle wherever the output
mode emits complete results.

Scale notes: event-time windowed aggregations keep state per (window ×
group) in the executor state store; the watermark bounds that state —
an unwatermarked stream accumulates state forever at 100 TB/day. The
session-window and tumbling-window operators here are exactly the
shapes Structured Streaming runs incrementally on a real cluster; the
`availableNow` harness only changes the trigger, not the plan.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_caffe_spark.materialize import pin
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.queries.relational import _scratch
from pyspark_caffe_spark.tables import (
    ensure_session_confs,
    load_table,
    normalize_events_ts,
    parquet_schema,
)

# Physical schema used for the self-generated replay fixtures (the
# replay writers serialize ts as INT64 nanos explicitly, so their
# readStream side always sees LongType regardless of what the fixture
# generator shipped on disk).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _replay_rows(df: DataFrame) -> DataFrame:
    """Events rows laid out as ``EVENTS_RAW_SCHEMA`` for a replay
    file: ts as INT64 nanos, fields in schema order."""
    return df.withColumn("ts", (F.unix_micros("ts") * 1000).cast("long")).select(
        *EVENTS_RAW_SCHEMA.fieldNames()
    )


def _read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over parquet with load_table's ts normalisation.

    The file stream source requires a directory basePath; when handed a
    single parquet file, pass its parent as basePath.
    """
    ensure_session_confs(spark)
    # The fixture's ts column has shipped as either INT64 nanos or
    # parquet timestamp[us]: read the stream with the cached batch
    # schema so it always matches the files on disk, then normalise
    # exactly as load_table does.
    schema = parquet_schema(spark, path)
    if path.endswith(".parquet"):
        # file source needs a directory: expose the single file through
        # a scratch dir via symlink (zero-copy). lexists + readlink
        # guard against stale/broken links when sf dirs move between
        # runs (exists() follows the link and would miss both cases).
        d = _scratch("stream_src_", os.path.dirname(path))
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if os.path.lexists(link) and os.readlink(link) != path:
            os.remove(link)
        if not os.path.lexists(link):
            os.symlink(path, link)
        path = d
    return normalize_events_ts(spark.readStream.schema(schema).parquet(path), schema)


def _run_available_now(
    spark: SparkSession, writer: DataStreamWriter, partitions: int = 8
) -> None:
    """Run ``writer``'s query to completion: start it with
    ``trigger(availableNow=True)`` under ``partitions`` state
    partitions, wait for it to stop (a failed query raises here) and
    restore the session's shuffle-partition conf.

    Streaming state partitions = shuffle.partitions at query start and
    are fixed for the query's lifetime; each one is a state-store
    instance with per-batch overhead (a stream-stream join opens FOUR
    RocksDB stores per partition). Size to state volume, not CPU
    count: 8 default (measured 1.5 s → 1.0 s at sf0.1); the
    state-heavy keys pass 4 (join 6.0 s → 3.0 s, stateful 3.3 s →
    1.3 s at sf0.01, no change in results). On a real cluster this is
    THE streaming sizing knob — set it to sustained
    (rows/sec × window) ÷ target-partition-size before the first start.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain(df: DataFrame, name: str, output_mode: str, partitions: int = 8) -> DataFrame:
    """Drain the streaming ``df`` into a memory sink with
    :func:`_run_available_now` and return the resulting table."""
    spark = df.sparkSession
    _run_available_now(
        spark,
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        partitions,
    )
    # detach the result from the memory-sink temp view, then drop it —
    # uuid-named sink tables would otherwise accumulate full result
    # sets in driver memory for the session lifetime
    out = spark.table(name).transform(pin)
    spark.catalog.dropTempView(name)
    return out


@query(
    "stream_tumbling",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS ws, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts by event_type, computed by an
    actual Structured Streaming query (complete mode ⇒ final table ==
    batch result; window start == date_trunc('hour'))."""
    ev = _read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    out = agg.select(
        F.col("window.start").alias("ws"), "event_type", "n", "sum_value"
    )
    return _drain(out, f"mem_tumbling_{uuid.uuid4().hex[:8]}", "complete")


@query(
    "stream_sliding",
    oracle="""
    SELECT DATE_TRUNC('hour', ts)
             + TO_MINUTES(15 * CAST(FLOOR(EXTRACT(minute FROM ts) / 15) AS BIGINT))
             - TO_MINUTES(15 * t.i)                      AS ws,
           event_type,
           COUNT(*) AS n
    FROM events, (SELECT UNNEST([0, 1, 2, 3]) AS i) t
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event lands in 4
    windows). Oracle expands the 4 window starts per event explicitly."""
    ev = _read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = agg.select(F.col("window.start").alias("ws"), "event_type", "n")
    return _drain(out, f"mem_sliding_{uuid.uuid4().hex[:8]}", "complete")


# Sessionization by the classic lag/gap/cumsum rewrite: the batch
# oracle of both session-window keys.
_SESSION_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """


def _sessions(ev: DataFrame) -> DataFrame:
    """30-minute session windows per user: event count and value sum."""
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query("stream_session", oracle=_SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via
    ``session_window`` — the same operator Structured Streaming runs
    with state-store-backed merging; executed on the batch DataFrame
    here because append-mode streaming only flushes sessions the
    watermark has passed (non-deterministic tail under availableNow).
    The oracle sessionizes via the classic lag/gap/cumsum rewrite.
    """
    return _sessions(load_table(spark, sf_dir, "events"))


@query("stream_session_drain", oracle=_SESSION_ORACLE)
def stream_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through a REAL Structured Streaming drain —
    the state-store-backed ``session_window`` merge running as a
    streaming query in COMPLETE output mode (availableNow), so every
    session is emitted deterministically and the batch lag/gap/cumsum
    oracle is a full value oracle.  This closes the documented gap in
    ``stream_session`` (batch-executed because APPEND mode only
    flushes watermark-passed sessions — a non-deterministic tail).

    Production note, why both keys exist: complete mode retains all
    session state for the query lifetime, which is the right contract
    for a drain-and-compare harness and the WRONG one for an unbounded
    stream — there you run the same aggregation with a watermark in
    append mode and accept that only closed sessions emit
    (stream_session documents that shape).  Round 9 also ran this
    exact drain at 100× density (2M-event slice, 1.9M sessions) with
    an exact-digest match against DuckDB
    (PARITY100_STREAMING_r19.json)."""
    sess = _sessions(_read_events_stream(spark, f"{sf_dir}/events.parquet"))
    return _drain(sess, f"mem_sessdrain_{uuid.uuid4().hex[:8]}", "complete")


@query(
    "stream_watermark_late",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS ws, event_type,
           COUNT(*) AS n, true AS stragglers_dropped, true AS flushed_exact
    FROM events, wm
    WHERE ts >= TIMESTAMP '2024-01-03'
      AND CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= w
    GROUP BY 1, 2
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark demo: replay events as THREE files — recent data
    (≥ Jan 3) first, then a Jan-2 buffer file, then the true stragglers
    (< Jan 2). With a 1-hour watermark and maxFilesPerTrigger=1, the
    watermark advances to (max ts − 1h) after batch 0 and — measured
    empirically on Spark 4.1 — is APPLIED with one batch of lag, so
    the stragglers' day-1 rows are filtered as too-late and the day-1
    windows never appear in the append-mode output. Tests assert
    exactly that against the batch twin.

    Invariant-literal oracle over the DETERMINISTIC projection: the
    drained ≥ Jan-3 windows are batch-split-independent (their rows
    all ship in the first replay file, and append mode flushes a
    window iff its end ≤ the final watermark max(ts) − 1h), so those
    rows hash-compare with exact counts.  The Jan-2 buffer window is
    the one genuinely split-dependent row — it is excluded from the
    hashed set, and two in-plan flags cover what remains:
    ``stragglers_dropped`` (NO drained window predates Jan 2 — the
    watermark's core guarantee) and ``flushed_exact`` (the drained
    ≥ Jan-3 set equals the expected flushable set with equal counts —
    the stream never drops, duplicates, or miscounts on-time data).
    The oracle emits literal ``true`` for both."""
    ev = load_table(spark, sf_dir, "events")
    replay = _scratch("wm_replay_", sf_dir)
    jan2 = F.lit("2024-01-02").cast("timestamp")
    jan3 = F.lit("2024-01-03").cast("timestamp")
    _replay_rows(ev.filter(F.col("ts") >= jan3)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(replay)
    # file source orders batches by mod time; local-FS mtime is
    # ms-resolution, so 150 ms is a wide ordering margin
    time.sleep(0.15)
    _replay_rows(ev.filter((F.col("ts") >= jan2) & (F.col("ts") < jan3))).coalesce(
        1
    ).write.mode("append").parquet(replay)
    time.sleep(0.15)
    _replay_rows(ev.filter(F.col("ts") < jan2)).coalesce(1).write.mode("append").parquet(
        replay
    )

    stream = normalize_events_ts(
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay),
        EVENTS_RAW_SCHEMA,
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    drained = _drain(agg, f"mem_wm_{uuid.uuid4().hex[:8]}", "append", partitions=4)

    # expected flushable set: on-time (≥ Jan 3) day windows whose end
    # precedes the final watermark max(ts) − 1h
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("_wm"))
    expected = (
        ev.filter(F.col("ts") >= jan3)
        .groupBy(F.date_trunc("day", "ts").alias("ws"), "event_type")
        .agg(F.count("*").alias("_n_exp"))
        .crossJoin(F.broadcast(wm))
        .filter(F.col("ws") + F.expr("INTERVAL 1 DAY") <= F.col("_wm"))
        .select("ws", "event_type", "_n_exp")
    )
    emitted = drained.filter(F.col("ws") >= jan3)
    match = emitted.join(expected, ["ws", "event_type"], "full_outer")
    flags = match.agg(
        (
            (F.count(F.when(F.col("n").isNull() | F.col("_n_exp").isNull(), 1)) == 0)
            & (F.count(F.when(F.col("n") != F.col("_n_exp"), 1)) == 0)
        ).alias("flushed_exact")
    ).crossJoin(
        drained.agg(
            (F.count(F.when(F.col("ws") < jan2, 1)) == 0).alias("stragglers_dropped")
        )
    )
    return emitted.crossJoin(F.broadcast(flags)).select(
        "ws", "event_type", "n", "stragglers_dropped", "flushed_exact"
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the input is replayed with every event
    duplicated; ``dropDuplicates('event_id')`` emits exactly the first
    occurrence of each id, so the drained output equals the original
    table. At scale the watermarked variant
    (dropDuplicatesWithinWatermark) bounds the id-set state."""
    ev = load_table(spark, sf_dir, "events")
    replay = _scratch("dedup_replay_", sf_dir)
    raw = _replay_rows(ev)
    raw.unionByName(raw).coalesce(2).write.mode("overwrite").parquet(replay)

    stream = _read_events_stream(spark, replay).dropDuplicates(["event_id"])
    out = stream.select("event_id", "user_id", "event_type", "value")
    return _drain(out, f"mem_dedup_{uuid.uuid4().hex[:8]}", "append", partitions=4)


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming deduplication — the production
    variant of stream_dedup: ``dropDuplicatesWithinWatermark`` only
    guarantees dedup for duplicates arriving within the watermark
    delay of each other, and in exchange the id-set state is EVICTED
    as the watermark advances.  Plain ``dropDuplicates`` keys state on
    every id ever seen — unbounded at 100 TB/day; this operator is
    what an unbounded pipeline actually runs.

    Replay: every event duplicated (duplicates share the event time,
    so they always fall within the 1-hour delay and MUST be dropped);
    one availableNow drain emits exactly the distinct events — the
    batch table is the full oracle."""
    ev = load_table(spark, sf_dir, "events")
    replay = _scratch("dedup_wm_replay_", sf_dir)
    raw = _replay_rows(ev)
    raw.unionByName(raw).coalesce(2).write.mode("overwrite").parquet(replay)

    stream = (
        _read_events_stream(spark, replay)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = stream.select("event_id", "user_id", "event_type", "value")
    return _drain(out, f"mem_dedup_wm_{uuid.uuid4().hex[:8]}", "append", partitions=4)


# transformWithStateInPandas needs google.protobuf (absent from this
# container, installs forbidden) — register the operator only when the
# dependency exists so the key never crashes the driver harness.
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_TWS_DEPS = True
except ImportError:
    _HAS_TWS_DEPS = False

_TWS_ORACLE = """
    SELECT user_id, COUNT(*) AS n_events, ROUND(MAX(value), 4) AS max_value
    FROM events
    GROUP BY user_id
    """


def stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's transformWithStateInPandas — the successor stateful
    API (typed ValueState in the state store, timer support, eviction
    control). Per-user running count + max via a StatefulProcessor;
    single availableNow batch ⇒ output equals the batch aggregate
    (the oracle). This is the at-scale custom-operator surface for
    streaming: state is per-key in RocksDB, not in Python memory."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "n LONG, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, mx = (0, float("-inf"))
            if self._state.exists():
                n, mx = self._state.get()
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 4)]}
            )

        def close(self) -> None:
            pass

    ev = _read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        RunningAgg(),
        outputStructType="user_id long, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    return _drain(out, f"mem_tws_{uuid.uuid4().hex[:8]}", "update")


if _HAS_TWS_DEPS:
    stream_tws = query("stream_tws", oracle=_TWS_ORACLE)(stream_tws)


@query(
    "stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op: per-user running totals via
    ``applyInPandasWithState`` (GroupState keyed by user_id). With a
    single availableNow batch the emitted update equals the full
    per-user aggregate, so the result is oracle-checkable. On a live
    stream the same code emits one update per user per micro-batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_events_stream(spark, f"{sf_dir}/events.parquet")

    def running_totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (n, total) = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 4)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(out, f"mem_stateful_{uuid.uuid4().hex[:8]}", "update", partitions=4)


@query(
    "stream_join_stream",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    """,
)
def stream_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each click joined to
    the same user's purchases within the following hour.

    Both sides carry a 1-hour watermark and the join condition carries
    the event-time interval — the combination that lets Structured
    Streaming BOUND the join state (click rows older than watermark +
    interval are evicted; without it, both sides buffer forever at
    100 TB/day). Inner join + append mode + availableNow drain emits
    exactly the matched pairs, so the batch interval join is a full
    oracle."""
    clicks = (
        _read_events_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _read_events_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    return _drain(joined, f"mem_ssjoin_{uuid.uuid4().hex[:8]}", "append", partitions=4)


@query(
    "stream_recovery",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed restart with an exactly-once file sink: the events
    table is replayed as TWO files; the streaming query drains file 1,
    STOPS, then a second query start with the SAME checkpoint drains
    only file 2 (the source offsets live in the checkpoint's WAL — no
    reprocessing), and the parquet sink's transaction log keeps the
    output exactly-once across the restart. Reading the sink back
    equals the batch table — the oracle. This is the recovery
    semantics a 100 TB/day pipeline leans on after every executor or
    driver loss; availableNow only changes the trigger, not the
    commit protocol."""
    ev = load_table(spark, sf_dir, "events")
    base = _scratch("recovery_", sf_dir)
    src, sink, ckpt = base + "/src", base + "/sink", base + "/ckpt"
    for d in (src, sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    half = F.col("event_id") % 2 == 0

    def run_once() -> None:
        stream = normalize_events_ts(
            spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(src),
            EVENTS_RAW_SCHEMA,
        ).select("event_id", "user_id", "event_type", "value")
        _run_available_now(
            spark,
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    _replay_rows(ev.filter(half)).coalesce(1).write.mode("append").parquet(src)
    run_once()  # drains file 1, commits offsets + sink txn log, stops
    time.sleep(0.15)  # distinct mtime for deterministic file ordering
    _replay_rows(ev.filter(~half)).coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: processes ONLY file 2
    return spark.read.parquet(sink)


@query(
    "stream_union",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM (
      SELECT event_type, value FROM events WHERE user_id % 2 = 0
      UNION ALL
      SELECT event_type, value FROM events WHERE user_id % 2 = 1
    )
    GROUP BY event_type
    """,
)
def stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source stream union (the multi-region/multi-topic
    ingestion shape): two file streams — partitioned halves of the
    event feed — unioned into ONE streaming aggregation.  Spark
    tracks progress per source; the union costs no state of its own,
    and the aggregate's state is identical to the single-source case.
    Complete-mode drain equals the batch union twin (the oracle)."""
    a = _read_events_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("user_id") % 2 == 0
    )
    b = _read_events_stream(spark, f"{sf_dir}/events.parquet").filter(
        F.col("user_id") % 2 == 1
    )
    unioned = a.select("event_type", "value").unionByName(
        b.select("event_type", "value")
    )
    agg = unioned.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    return _drain(agg, f"mem_sunion_{uuid.uuid4().hex[:8]}", "complete")


# ---------------------------------------------------------------------------
# Custom STREAMING source — Python DataSource API (offset management)
# ---------------------------------------------------------------------------

try:  # pragma: no cover - import surface probed once
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _SynthTickerSource(DataSource):
        """Deterministic micro-batched stream source: 5 batches of 100
        rows, then caught-up.  Stands in for a queue/CDC connector; the
        offset dict {"pos": n} is the cursor a real connector would
        keep against its upstream log."""

        @classmethod
        def name(cls) -> str:
            return "synth_ticker"

        def schema(self) -> str:
            return "pos bigint, val bigint"

        def simpleStreamReader(self, schema):
            return _SynthTickerReader()

    class _SynthTickerReader(SimpleDataSourceStreamReader):
        N, BATCH = 500, 100

        def initialOffset(self) -> dict:
            return {"pos": 0}

        def read(self, start: dict):
            p = start["pos"]
            if p >= self.N:  # caught up: no rows, offset unchanged
                return iter([]), {"pos": p}
            rows = [(i, (i * 31 + 7) % 97) for i in range(p, p + self.BATCH)]
            return iter(rows), {"pos": p + self.BATCH}

        def readBetweenOffsets(self, start: dict, end: dict):
            # replay path: recompute any committed-but-lost batch
            return iter(
                (i, (i * 31 + 7) % 97) for i in range(start["pos"], end["pos"])
            )

except ImportError:  # pragma: no cover
    pass


def _process_all_available(q: StreamingQuery, what: str, timeout: float = 120.0) -> None:
    """Wait until the running query ``q`` has processed all the input
    its sources have, then stop it.

    Custom Python sources don't support availableNow, so their
    queries run with a processing-time trigger and
    ``processAllAvailable()`` waits for the engine to report no new
    data.  A query that FAILS (a task error, or the epoch sink's
    commit() raising on a real IO error) makes it rethrow the
    failure.  A query that stalls is stopped by a timer after
    ``timeout`` seconds, and the wait raises ``TimeoutError`` naming
    the drain."""
    timed_out = threading.Event()

    def _stop() -> None:
        timed_out.set()
        q.stop()

    timer = threading.Timer(timeout, _stop)
    timer.start()
    try:
        q.processAllAvailable()
    finally:
        timer.cancel()
        q.stop()
    if timed_out.is_set():
        raise TimeoutError(f"{what} did not complete within {timeout:g} s")


@query(
    "stream_python_datasource",
    oracle="""
    SELECT batch_no,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val) AS BIGINT) AS sum_val
    FROM (
      SELECT g // 100 AS batch_no, (g * 31 + 7) % 97 AS val
      FROM generate_series(0, 499) t(g)
    )
    GROUP BY batch_no
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector on the Python DataSource API — the
    offset-managed half scan_python_datasource doesn't cover: the
    engine calls read(start) per micro-batch, the reader returns rows
    plus the advanced offset, and readBetweenOffsets() replays any
    planned-but-lost range after restart (exactly-once replay
    contract; stream_recovery exercises the checkpoint side with a
    file source).

    The 5×100-row deterministic ticker drains into a memory sink; the
    per-batch (count, sum) rollup hash-matches generate_series ONLY if
    every offset range was read exactly once — a dropped or repeated
    micro-batch breaks the oracle.  Custom Python sources don't
    support availableNow (single-batch fallback), so the drain waits
    on the engine until the source reports caught-up."""
    spark.dataSource.register(_SynthTickerSource)
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("synth_ticker")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    _process_all_available(q, "synth_ticker drain")
    out = spark.table(name).transform(pin)
    spark.catalog.dropTempView(name)
    return (
        out.groupBy((F.col("pos") / 100).cast("long").alias("batch_no"))
        .agg(F.count("*").alias("n"), F.sum("val").alias("sum_val"))
    )


def _epochs_manifest_read(manifest: str) -> list[tuple[str, int]]:
    """Defensive read of the epoch sink's ``_EPOCHS`` manifest:
    ``(batch_id, n_rows)`` pairs for every well-formed
    ``digits,digits`` line.

    The only caller is commit()'s read-modify-rewrite, so only what
    is safe to rewrite degrades.  An absent file (the first commit)
    is no lines.  Non-UTF-8 content (a torn write can leave partial
    multi-byte sequences) and malformed lines are content, not IO:
    the decode is binary + ``errors="replace"``, so torn bytes become
    U+FFFD and only THEIR line is dropped by the digits check, and
    the parseable prefix (already-committed batch counts) survives.
    Any other OSError (EIO, EACCES, ...) on an EXISTING manifest
    propagates: degrading it to "no prior batches" would rewrite the
    manifest with only the current batch and discard every committed
    total.  The failed commit fails the query loudly instead; a
    restart from the checkpoint replays the batch, and commit() is
    idempotent per batchId."""
    try:
        with open(manifest, "rb") as f:
            raw = f.read().decode("utf-8", errors="replace").splitlines()
    except FileNotFoundError:
        return []
    out: list[tuple[str, int]] = []
    for ln in raw:
        parts = ln.strip().split(",")
        # isdecimal(), NOT isdigit(): isdigit() is True for characters
        # int() rejects (superscript '²', circled digits), so garbage
        # like b'1,\xc2\xb2' would raise ValueError past the guard.
        # isdecimal() is True only for Unicode Nd characters, the
        # precise class int() accepts, so the int() below cannot raise.
        if len(parts) == 2 and parts[0].isdecimal() and parts[1].isdecimal():
            out.append((parts[0], int(parts[1])))
    return out


try:  # pragma: no cover - import surface probed once
    from pyspark.sql.datasource import DataSourceStreamWriter

    from pyspark_caffe_spark.queries.relational import _JsonlTaskWriter

    class _EpochJsonlStreamSink(DataSource):
        """Custom STREAMING sink: tasks write epoch temp files, the
        driver's commit(messages, batchId) renames them under an
        epoch-stamped name and appends a manifest line — per-epoch
        two-phase commit, the exactly-once bookkeeping a real
        streaming sink (Kafka transactional producer, Delta txn log)
        performs every micro-batch."""

        @classmethod
        def name(cls) -> str:
            return "epoch_jsonl"

        def streamWriter(self, schema, overwrite: bool):
            return _EpochJsonlStreamWriter(self.options["path"])

    class _EpochJsonlStreamWriter(_JsonlTaskWriter, DataSourceStreamWriter):
        def commit(self, messages, batchId: int) -> None:
            # Idempotent per batchId: a micro-batch replayed after a
            # crash between sink commit and offset-log write must
            # OVERWRITE the first attempt, not add to it — drop any
            # epoch files a prior attempt left (the replay may produce
            # fewer non-empty partitions) and rewrite, not append, this
            # batch's manifest line.
            for stale in glob.glob(
                os.path.join(self.path, f"epoch-{batchId:05d}-*.jsonl")
            ):
                os.remove(stale)
            total = self._install(
                messages, lambda i: f"epoch-{batchId:05d}-{i:03d}.jsonl"
            )
            manifest = os.path.join(self.path, "_EPOCHS")
            lines = [
                f"{b},{n}"
                for b, n in _epochs_manifest_read(manifest)
                if b != str(batchId)
            ]
            lines.append(f"{batchId},{total}")
            # shared ".tmp" + replace is safe HERE, unlike the ANN
            # manifest (which needed mkstemp + flock): commit() runs
            # driver-side and the streaming engine serializes it per
            # query — one committer per sink path by contract (two
            # queries sharing an output path is out of contract for
            # file sinks generally).  No concurrent writer exists to
            # interleave on the tmp inode.
            with open(manifest + ".tmp", "w") as f:
                f.write("\n".join(lines) + "\n")
            os.replace(manifest + ".tmp", manifest)

except ImportError:  # pragma: no cover
    pass


@query(
    "stream_python_sink",
    oracle="""
    SELECT CAST(g // 100 AS BIGINT) AS batch_no,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((g * 31 + 7) % 97) AS BIGINT) AS sum_val
    FROM generate_series(0, 499) t(g)
    GROUP BY 1
    """,
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END custom streaming: the synth_ticker source
    (stream_python_datasource) drains through the epoch_jsonl custom
    STREAM sink — per-micro-batch two-phase commit: task temp files →
    driver commit(batchId) renames them epoch-stamped and logs the
    epoch manifest.  Completes the connector quadrant (batch
    read/write, stream read/write, all four value-oracled).

    The read-back of the COMMITTED epoch files reproduces
    generate_series exactly only if every epoch's every partition was
    committed exactly once — leaked temp files, double-committed
    epochs, or dropped partitions all break the hash.  batch_no is
    recovered from the row payload (pos // 100), NOT the file name, so
    the check is data-level."""
    sink_dir = _scratch("pyds_stream_sink_", sf_dir)
    shutil.rmtree(sink_dir, ignore_errors=True)
    spark.dataSource.register(_SynthTickerSource)
    spark.dataSource.register(_EpochJsonlStreamSink)
    ckpt = os.path.join(sink_dir, "_ckpt")
    q = (
        spark.readStream.format("synth_ticker")
        .load()
        .writeStream.format("epoch_jsonl")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    _process_all_available(q, "epoch_jsonl drain")
    back = spark.read.json(os.path.join(sink_dir, "epoch-*.jsonl"))
    return back.groupBy((F.col("pos") / 100).cast("long").alias("batch_no")).agg(
        F.count("*").alias("n"), F.sum("val").alias("sum_val")
    )


@query(
    "stream_state_inspect",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store INSPECTION — Spark 4's ``statestore`` reader turns
    a streaming checkpoint into a queryable DataFrame: the ops
    debugging tool for live pipelines ("what is operator 0 holding for
    key X right now?") without stopping the query or trusting the
    sink.  A per-type running aggregate drains with availableNow into
    a checkpoint, then the RESULT IS READ FROM THE CHECKPOINT'S STATE,
    not from the sink — so the oracle match proves the persisted state
    itself carries exactly the batch answer (the state sums use exact
    integer cents; a double buffer would be at the mercy of
    accumulation order).

    Value-struct field names are resolved from the reader's own schema
    (aggregation buffers carry internal names), keyed by position —
    count buffer then sum buffer, matching the agg expression order.
    At 100 TB this read is per-partition parallel over the state files
    and supports operator/batch selection options; the companion
    ``state-metadata`` format lists operators and batch ranges."""
    ckpt = _scratch("state_inspect_ckpt_", sf_dir)
    shutil.rmtree(ckpt, ignore_errors=True)
    ev = _read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    _run_available_now(
        spark,
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
    )
    st = spark.read.format("statestore").load(ckpt)
    vfields = [f.name for f in st.schema["value"].dataType.fields]
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.`{vfields[0]}`").cast("long").alias("n"),
        F.col(f"value.`{vfields[1]}`").cast("long").alias("cents"),
    )
