"""SparkSession factory.

One place where every session-level knob is set, so that the tests,
``bench.py``, ``perfbench``, ``tools/`` and :func:`recycle_session`
all run with identical semantics.  The driver harness is the
exception: ``__spark_entry__.entry`` receives the driver's own
session, built without this factory.  That session gets the
correctness-critical runtime confs from ``tables.ensure_session_confs``
on its first table load, but none of the static SparkContext settings
below (master, driver memory, I/O codec), which only a session that
:func:`get_spark` creates carries.

Scale notes (100 TB deployment): the local[] master and the shuffle
partition count are the only local-mode artifacts here; on a real
cluster the same builder is used with a cluster master and
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores (AQE
coalesces down at runtime, so erring high is safe).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pyspark_caffe_spark.tables import CORRECTNESS_CONFS


def _parse_mib(size: str) -> int:
    """JVM memory string ('8g', '512m', '1024') → MiB (bare = MiB)."""
    s = size.strip().lower()
    mult = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(float(s))


def get_spark(app_name: str = "pyspark-caffe-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Settings that are correctness-critical: ``tables.CORRECTNESS_CONFS``
    (``nanosAsLong=true``, ``timeZone=UTC``), set at build time so they
    hold before the first parquet read.

    Settings that are performance-tuning:
      * AQE on (default in 4.x) with skew-join handling — at 100 TB a
        skewed join key is the norm, not the exception.
      * ``shuffle.partitions`` sized for the local test box; AQE
        coalesces small post-shuffle partitions either way.
      * ``spark.io.compression.codec=zstd`` at Spark's default level,
        in place of lz4, for shuffle files, broadcast blocks and spills.
        Shuffle bytes from the status store, which repeat exactly run
        to run, at ``local[2]`` on sf0.1: ``text_tfidf`` 860,620 →
        394,290 B, ``pipeline_training_snapshot`` 802,226 → 376,331 B,
        ``win_rank_topk`` 710,782 → 552,096 B; a perfbench pass of
        ``llm_ingest_sf0.1`` 1,662,846 → 770,621 B and of
        ``relational_sf0.1`` 714,222 → 554,256 B.  At x10
        (``tools/make_superscale.py 10``, ``local[4]``) the three write
        9.04 → 4.66, 8.47 → 4.46 and 7.09 → 5.58 MB, and their
        executor CPU and wall times stay within run-to-run noise on a
        4-vCPU VM.  Level 3 writes only 6-12% fewer bytes than the
        default level.
        The codec is a static SparkContext setting: it reaches only
        sessions this function creates, not a session built elsewhere.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # AQE SMJ→SHJ conversion bound (see the .config comment below).
    # A ShuffledHashJoin build side CANNOT spill, so this is
    # un-spillable heap: up to threshold × concurrent-tasks (128m × 32
    # tasks = 4 GiB on this box's 8 GiB heap — the memory floor the
    # round-8 zero-spill measurement was taken on).  Gate it on the
    # per-core heap actually configured: below ~256 MiB/core the
    # conservative Spark default (0 = off, SMJ keeps its spill path)
    # is restored rather than trading a sort-spill for an OOM.
    heap_mib = _parse_mib(driver_mem)
    shj_threshold = "128m" if heap_mib >= 256 * cpus else "0"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=CORRECTNESS_CONFS)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE convert a planned sort-merge join to a shuffled-hash
        # join when the RUNTIME build-side partitions fit this bound —
        # skipping the SMJ sort entirely.  Measured at 100× sf0.1
        # (PERF.md round 8): join_multiway's AQE-demoted customer join
        # went 5.25 s / 6.7 GB sort-spill (SMJ) → ~4.2-4.5 s / ZERO
        # spill.  Safer than preferSortMergeJoin=false (same speedup
        # measured) because the decision uses measured partition sizes
        # — an oversized or skewed build side keeps the spill-graceful
        # SMJ.  0 (off) is Spark's default only for plan-stability
        # conservatism.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            shj_threshold,
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # RocksDB state store: bounded-memory streaming state (the JVM
        # heap store OOMs once state exceeds executor memory at real
        # stream volumes); verified working in this container
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # about half lz4's shuffle bytes at the same speed (docstring)
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def recycle_session(
    app_name: str = "pyspark-caffe-spark",
    cpus: int | None = None,
    also_stop: tuple = (),
) -> SparkSession:
    """Hard JVM recycle: stop every live session, shut down the py4j
    gateway, reset pyspark's process globals, and return a brand-new
    session from :func:`get_spark`.

    Why this exists (promoted from tools/parity_super100.py after a
    real OOM lesson at the 100x sweep, round 10): a single long-lived
    local Spark JVM accumulates cached frames, checkpointed RDD
    blocks, and — worst — streaming state-store provider maps that
    stay pinned AFTER their query stops.  A few hundred registry keys
    (or three 10-20M-row streaming drains back-to-back) into one
    session, the NEXT key OOMs a heap it would clear easily when
    fresh.  And once a heap OOM kills the py4j gateway listener, a
    plain ``getOrCreate()`` redials the dead socket forever
    (ConnectionRefusedError) because pyspark's module globals still
    point at the corpse — reviving requires the hard resets below,
    not a retry.

    Use it two ways, exactly as the 100x parity harness does:

    * **proactively** — every ~40 keys in a long multi-key run, a
      ~15 s fresh JVM keeps every key's memory baseline flat (and a
      per-drain fresh heap before each heavy streaming key);
    * **reactively** — when ``spark.range(1).count()`` raises, the
      JVM is gone; this both clears the dead globals and hands back a
      working session, so one bad key cannot void the rest of a run.

    Safe to call with a healthy session too (it is simply stopped).
    ``also_stop`` takes extra session handles the caller may hold
    (e.g. a local variable that outlived the globals).  Every stop /
    shutdown is exception-guarded: the whole point is to run while
    the JVM is in an arbitrary state of dead.
    """
    from pyspark import SparkContext

    # getActiveSession itself reflects over the py4j socket when the
    # active-context global is non-None — on a dead gateway it RAISES,
    # which would crash the recovery path on exactly the failure it
    # heals; guard it like everything else here.
    try:
        candidates = (SparkSession.getActiveSession(),)
    except Exception:
        candidates = ()
    candidates = candidates + tuple(also_stop) + (
        getattr(SparkSession, "_instantiatedSession", None),
    )
    for candidate in candidates:
        if candidate is not None:
            try:
                candidate.stop()
            except Exception:
                pass
    gw = getattr(SparkContext, "_gateway", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        # shutdown() only closes the py4j sockets: the old JVM keeps
        # running until its stdin closes.  End it and reap it, or every
        # recycle leaves one more live JVM behind.
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.terminate()
                proc.wait(timeout=60)
            except Exception:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkContext._active_spark_context = None
    # Reset only globals the pinned pyspark actually consults: 4.1.2
    # has _instantiatedSession and _activeSession; assigning names that
    # don't exist (e.g. _defaultSession, removed upstream) would just
    # fabricate dead class attributes (round-11 advice).  hasattr-guard
    # so the recipe tracks whatever pyspark version is installed.
    for attr in ("_instantiatedSession", "_activeSession", "_defaultSession"):
        if hasattr(SparkSession, attr):
            setattr(SparkSession, attr, None)
    return get_spark(app_name, cpus=cpus)
