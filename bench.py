#!/usr/bin/env python
"""Time query keys in a warm process and print one JSON line.

Usage::

    python bench.py                                  # the 22-key HEADLINE
    python bench.py [--sf DIR] KEY [KEY ...]         # named keys (A/B loop)
    SPARK_GRAFT_BENCH_REPS=5 python bench.py win_rank_topk text_tfidf

The data directory is ``--sf DIR``, else ``SF_DIR`` (``$SPARK_GRAFT_SF_DIR``
or the sf0.1 fixture).  After a session warm-up, every key runs
``SPARK_GRAFT_BENCH_REPS`` times (default 3) through the noop sink,
which forces every column and operator without collecting rows.
The line carries each key's median (``queries``) and min
(``queries_min``) in seconds; ``value`` is the sum of the medians.
Compare the headline against BASELINE.md's PySpark column.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_caffe_spark import get_spark  # noqa: E402
from pyspark_caffe_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The BASELINE.md shapes plus one representative per capability layer
# (relational / window / streaming / ML / LLM / training-data ops).
HEADLINE = [
    "agg_hash_groupby",   # q1 pricing summary        (baseline 1.42 s)
    "join_multiway",      # q5 6-way join chain       (baseline 1.92 s)
    "join_q3_topk",       # q3 shipping priority      (baseline 4.23 s)
    "win_rank_topk",      # top-3 per customer window (baseline 1.35 s)
    "fn_map_json",        # events json parse + agg   (baseline ~0.68 s)
    "agg_cube",           # cube over events
    "join_asof",          # as-of via union+window
    "topk_global",        # TakeOrdered
    "sim_knn_exact",      # knn pairs — baseline outlier 20.5 s naive
    "dedup_minhash",      # MinHash-LSH banding
    "ml_model_apply",     # pandas-UDF model inference
    "text_tokenize_tf",   # tokenize + TF
    "stream_tumbling",    # real Structured Streaming drain
    "join_range_bucketed",  # band join via bucketized equi-join
    "agg_time_rollup",    # hour+day rollup in one scan
    "agg_q6_selective",   # Q6-style pushdown probe
    "sim_knn_batch",      # batch ANN serving shape (broadcast + window)
    "pipeline_training_snapshot",  # quality→dedup→subsample, one plan
    "sink_merge_upsert",  # MERGE-style copy-on-write upsert
    "pack_shards",        # token-budget sequence packing
    "events_sessionize",  # idle-gap sessionization, single shuffle
    "text_tfidf",         # corpus TF-IDF, top-5 terms per doc
]


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else list(argv)
    sf_dir = SF_DIR
    if args[:1] == ["--sf"]:
        if len(args) < 2:
            print("usage: bench.py [--sf DIR] [KEY ...]", file=sys.stderr)
            return 2
        sf_dir, args = args[1], args[2:]
    # validated before the session starts, so a bad value fails with
    # the knob's name instead of a StatisticsError minutes later
    reps_raw = os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")
    try:
        reps = int(reps_raw)
    except ValueError:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_REPS must be a positive integer, got {reps_raw!r}"
        )
    if reps < 1:
        raise SystemExit(f"SPARK_GRAFT_BENCH_REPS must be >= 1, got {reps}")
    names = args or HEADLINE
    unknown = [k for k in names if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query keys: {unknown}")

    spark = get_spark("pyspark-caffe-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up (JIT, codegen, scheduler): BASELINE.md's numbers are
    # warm-process runs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["agg_hash_groupby"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    med: dict[str, float] = {}
    best: dict[str, float] = {}
    for name in names:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        med[name] = round(statistics.median(samples), 3)
        best[name] = round(min(samples), 3)

    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    suite = "named keys" if args else "headline suite"
    print(json.dumps({
        "metric": f"{suite} wall-clock ({len(names)} queries, "
                  f"noop-materialized, median of {reps})",
        "value": round(sum(med.values()), 3),
        "unit": "sec",
        "sf": float(m.group(1)) if m else None,
        "queries": med,
        "queries_min": best,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
