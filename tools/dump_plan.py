#!/usr/bin/env python
"""Dump the plans of NAMED keys to plans/<dir>/<key>_<tag>.txt: the
static explain("formatted") plan, then the FINAL adaptive plan.

Some claims (AQE exchange reuse in text_tfidf) exist only in the final
adaptive plan: the static dump shows ``isFinalPlan=false`` and no
ReusedExchange, because AQE stage reuse is decided at runtime when the
second branch's shuffle canonicalizes to an already-materialized
stage.  So after writing the static plan, the tool executes the
DataFrame's own QueryExecution via ``collect()`` (a write command would
finalize a DIFFERENT QueryExecution) and appends the executedPlan
string under a labeled separator, so runtime-plan claims can be checked
against the committed file.

Usage::

    python tools/dump_plan.py r18 after dedup_minhash [key ...]
    python tools/dump_plan.py r18 before --sf /root/testdata/sf0.1 key
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    args = sys.argv[1:]
    if len(args) < 3:
        print("usage: dump_plan.py ROUND_DIR TAG [--sf DIR] KEY [KEY ...]")
        return 2
    round_dir, tag = args[0], args[1]
    rest = args[2:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and rest[0] == "--sf":
        sf_dir = rest[1]
        rest = rest[2:]

    sys.path.insert(0, _REPO)
    from pyspark_caffe_spark import get_spark
    from pyspark_caffe_spark.queries import QUERIES

    spark = get_spark("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(_REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for key in rest:
        df = QUERIES[key](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        df.collect()  # finalizes THIS QueryExecution's adaptive plan
        final = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(out_dir, f"{key}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
            f.write(
                "\n\n== FINAL ADAPTIVE PLAN (executedPlan after "
                "collect(); includes the Initial Plan section) ==\n"
            )
            f.write(final)
        print(f"wrote {path} (plan + final plan)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
