#!/usr/bin/env python
"""Dry-run the driver's correctness check locally, for the sweep
prefix or for named keys.

Replays EXACTLY what the grading driver does each round, before the
driver does it: import ``__spark_entry__``, take the keys to check,
run each against its ``oracle_sql()`` DuckDB oracle through the same
normalize/compare path the local suite uses
(``tests.parity.assert_parity``), and print one line per key plus a
summary line for PERF.md: ``DRYRUN: G/N green in Xs``.

Each key's driver-thread Spark jobs (plan build plus the parity
collect) run under the job group ``key``; its OK/FAIL line ends with
``jobs=N`` read back from the status tracker, so "per-key jobs
unchanged" is one run of this tool on each side of a change.  Jobs
Spark starts on its own threads for the key (broadcast exchanges)
inherit the group and are in the count.  ``N`` is the key's own
count, whatever runs before it: the schema of every fixture table of
the scale factor is inferred (``tables.parquet_schema``, one footer
job a file) before the first key, outside any job group.
``shuffle=B`` next to it is the shuffle bytes written by every stage
submitted while the key ran, summed from the driver's status store,
so "per-key shuffle bytes down, rows unchanged" is one run too;
``tasks=T`` is the tasks those stages completed.

An integer N checks the first N keys of ``queries()`` (the
sweep-ordered registry — code-changed keys first, then stalest
evidence); key names check exactly those keys (the per-change
verification loop of an optimization round).

Usage::

    python tools/dryrun_sweep.py            # first 50 keys (the budget)
    python tools/dryrun_sweep.py 60         # widen past the budget
    python tools/dryrun_sweep.py sim_knn_ivf sink_ann_index
    python tools/dryrun_sweep.py --sf /root/testdata/sf0.1 key1 key2

Every failing key prints its position, name, and the first 200 chars
of the mismatch, so a red row is actionable before the driver records
it in CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stage_totals(sc, stage0: int, stage1: int) -> tuple[int, int]:
    """Completed tasks and shuffle bytes written by the stages with ids
    in [stage0, stage1)."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # status store sees every finished task
    store, tasks, shuffle = jsc.statusStore(), 0, 0
    for sid in range(stage0, stage1):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted (AQE re-planned it away)
            continue
        if sd.status().toString() != "SKIPPED":
            tasks += sd.numCompleteTasks()
            shuffle += sd.shuffleWriteBytes()
    return tasks, shuffle


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args[:1] == ["--sf"] and len(args) > 1:
        sf_dir, args = args[1], args[2:]
    if args[:1] == ["--sf"] or (len(args) > 1 and args[0].isdigit()):
        print("usage: dryrun_sweep.py [--sf DIR] [N | KEY ...]")
        return 2

    sys.path.insert(0, _REPO)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark_caffe_spark import get_spark
    from pyspark_caffe_spark.tables import TABLE_NAMES, parquet_schema
    from tests.parity import assert_parity

    import duckdb

    spark = get_spark("dryrun-sweep")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        parquet_schema(spark, f"{sf_dir}/{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = mod.queries(), mod.oracle_sql()
    if not args or args[0].isdigit():
        keys = list(qs)[: int(args[0]) if args else 50]
    else:
        keys = args
    t0 = time.time()
    green = 0
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    for i, key in enumerate(keys):
        tk = time.time()
        stage0 = dag.nextStageId()
        sc.setJobGroup(key, f"dryrun {key}")
        try:
            assert_parity(qs[key](spark, sf_dir), con, osql[key], key)
            green += 1
            status = "OK"
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            status = f"FAIL {type(ex).__name__}: {str(ex)[:200]}"
        jobs = len(sc.statusTracker().getJobIdsForGroup(key))
        tasks, shuffle = _stage_totals(sc, stage0, dag.nextStageId())
        print(
            f"[{i}] {key} {status} ({time.time() - tk:.1f}s) jobs={jobs} shuffle={shuffle} tasks={tasks}",
            flush=True,
        )
    print(f"DRYRUN: {green}/{len(keys)} green in {time.time() - t0:.0f}s")
    return 0 if green == len(keys) else 1


if __name__ == "__main__":
    sys.exit(main())
