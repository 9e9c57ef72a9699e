"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``pyspark_caffe_spark`` package; every
operator self-registers into the registry this module re-exports.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark_caffe_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return QUERIES["agg_hash_groupby"](spark, "/root/testdata/sf0.001")


# Keys measured ≥ ~1.5 s at sf0.01 (streaming drains, iterative ML,
# LSH/cluster dedup) — pushed to the END of the sweep order so a
# wall-clock-budgeted harness checks the maximum number of keys before
# any cutoff (round 1 stopped after 50 of 123).
_EXPENSIVE_LAST = [
    "agg_approx_distinct",
    "sim_auto_threshold",
    "sink_analyze_stats",
    "udf_surface",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "ml_train_iter",
    "ml_kmeans",
    "ml_train_mllib",
    "stream_session",
    "stream_foreachbatch",
    "stream_join_static",
    "stream_sliding",
    "stream_dedup",
    "stream_stateful",
    "stream_join_stream",
    "stream_tumbling",
    "stream_recovery",
    "stream_watermark_late",
    # round-7 custom-connector streams (~5-10 s each)
    "stream_python_datasource",
    "stream_python_sink",
    # round-7 iterative/inverted-index keys ≥ ~2 s at sf0.01
    "ml_train_tree",
    "events_user_similarity",
    # round-8: batched IVF (centroid training + two-stream window merge)
    "sim_knn_ivf_batch",
    # round-9: persisted IVF index (Lloyd + partitioned postings write)
    "sink_ann_index",
    "sim_knn_ivf_serve",
    # round-9: complete-mode session drain (full streaming query)
    "stream_session_drain",
    "stream_dedup_watermark",
    # round-10: O(log² n) alternating-star components (~7 iterative
    # rounds of groupBy+join+distinct jobs)
    "graph_connected_components",
    # round-10: base-index build + two serves + delta append
    "sim_knn_ivf_refresh",
    # round-11: base build + two appends + full postings rewrite
    "sink_ann_index_compact",
    # round-12: standalone fallback replays the same ingest history
    "sink_ann_index_compact_only",
]


# The driver's correctness sweep is wall-clock-budgeted at ~this many
# keys per round (observed 45-50 across r9-r13).  The quota machinery
# below derives its fit check from it (round-13 advisory: a bare
# literal silently diverges if the budget estimate changes).
_SWEEP_BUDGET = 50
#: headroom the fit check keeps for sweep-order jitter / slow keys
_SWEEP_FIT_HEADROOM = 5


# Keys whose IMPLEMENTATION changed in round 18 (single ADVICE
# closure): the epoch sink's commit() no longer degrades a
# transient OSError (EIO/EACCES, not just absence) on an EXISTING
# _EPOCHS manifest to zero lines — that degrade made the
# read-modify-rewrite discard every previously committed batch
# total.  FileNotFoundError + content garbage still degrade; real
# IO errors fail the query loudly — a restart from checkpoint
# replays the batch, and commit() is idempotent per batchId.
# Surviving r17 rows for both keys validate pre-fix code, so they
# re-sweep ahead of the green pool until a row from round ≥ 18
# exists — a green CORRECTNESS row should always describe the code
# actually in the tree.  Auto-expires once the fresh rows land.
# (All seven round-17 entries — the ANN manifest "."/".."
# rejection, the fchmod-inside-try commit fix, and the r17 epoch
# parser move — landed fresh green r17 rows and have expired.)
_CODE_CHANGED = {
    "stream_python_sink": 18,
    "stream_python_datasource": 18,
    # round-18 optimization: ANN index verbs — fingerprint/identity
    # folds via observe(), driver-local meta/centroid reads+writes
    "sink_ann_index": 18,
    "sim_knn_ivf_serve": 18,
    "sim_knn_ivf_serve_only": 18,
    "sink_ann_index_compact": 18,
    "sink_ann_index_compact_only": 18,
    # round-18 optimization: repeated-subtree materialization, lag-of-
    # cents EWMA, companion aggregates folded into exact_percentiles
    "graph_triangle_count": 18,
    "sim_mmr_diversify": 18,
    "win_ewma": 18,
    "agg_percentile_exact": 18,
    "agg_stats": 18,
    "events_rfm": 18,
    "events_attribution": 18,
    # round-18 optimization (resumed session): eager checkpoint of the
    # per-round large-star intermediate in the CC loop
    "graph_connected_components": 18,
    # round-18 optimization (resumed session): minhash shingle hash
    # from word-hash longs instead of joined shingle strings
    "dedup_candidate_verify": 18,
    # round-19 optimization: the refresh's two serves share ONE
    # query-matrix collect (the batch is the same deterministic slice
    # in both — identical probe sets are what the before/after
    # comparison requires)
    "sim_knn_ivf_refresh": 19,
    # round 20: exact dedup groups, partitions and joins on the 128-bit
    # textops.fingerprint; md5 keys ship 16 bytes; tfidf ships each
    # document's sorted bag of words
    "dedup_exact": 20,
    "pipeline_corpus": 20,
    "pipeline_training_snapshot": 20,
    "dedup_source_priority": 20,
    "dedup_decontaminate": 20,
    "text_fingerprint": 20,
    "multimodal_dedup": 20,
    "text_tfidf": 20,
    # round 20: nation and region resolved on the driver as literals
    "join_multiway": 20,
    "join_broadcast": 20,
    "join_q7_volume": 20,
    "agg_q8_mktshare": 20,
    "agg_q9_profit": 20,
    "join_q10_returned_topk": 20,
    "join_q20_semichain": 20,
    "join_q21_waiting": 20,
    # round 20: one as-of bracket (joins.asof_bracket), one gap-session
    # number, one md5-to-number helper (tables.md5_long), one
    # planted-recall tail
    "join_asof": 20,
    "join_asof_tolerance": 20,
    "join_asof_nearest": 20,
    "events_resample_interpolate": 20,
    "events_sessionize": 20,
    "events_pattern_detect": 20,
    "corpus_domain_cap": 20,
    "corpus_split_leakproof": 20,
    "text_heavy_hitters": 20,
    "ml_bootstrap_ci": 20,
    "ml_permutation_test": 20,
    "dedup_minhash": 20,
    "dedup_simhash": 20,
}


def _driver_rows() -> dict[str, dict]:
    """Latest CORRECTNESS_r*.json row per key (accumulated over rounds)."""
    import glob
    import json

    def round_num(path: str) -> int:
        import re

        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    rows: dict[str, dict] = {}
    # numeric sort so r10 doesn't land between r1 and r2 and let a
    # stale row shadow a newer one (latest round wins); path tiebreak
    # keeps same-round / non-matching names deterministic
    paths = glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))
    for path in sorted(paths, key=lambda p: (round_num(p), p)):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for key, row in data.items():
                if isinstance(row, dict):
                    # remember WHICH round produced the surviving row so
                    # the sweep can re-check stalest evidence first
                    rows[key] = {**row, "_round": round_num(path)}
    return rows


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver's correctness sweep is budget-limited (~50 keys/round, in
    this dict's order), so the order is chosen to maximize NEW evidence
    each round:
      group 0 — keys whose latest driver row is red (err / row / schema /
                hash mismatch): fixes must convert to green rows first;
      group 1 — keys with no driver row yet, plus rows-only rows whose
                key has since graduated to a full hash oracle;
      group 2 — keys already driver-green, STALEST EVIDENCE FIRST:
                ordered by the round that produced their surviving
                CORRECTNESS row (ascending), so a budget-limited sweep
                refreshes r01-stamped rows before re-confirming last
                round's — catching any silent regression the local
                suite missed.
    Within each group, registry order, except _EXPENSIVE_LAST keys
    (streaming drains, iterative ML, LSH/cluster dedup, ≥ ~1.5 s at
    sf0.01) sink to the end of their group so a wall-clock-budgeted
    harness checks the maximum number of keys before any cutoff —
    EXCEPT a rotation quota: the 5 STALEST expensive green keys are
    exempted from the sink each round, otherwise a budget that never
    reaches the tail would leave streaming/ML driver evidence frozen
    at round 1 forever (a silent streaming regression would stay
    driver-invisible).  5 slots ≈ 10% of a ~50-key sweep, so the
    whole 21-key expensive set refreshes on a ~4-round cadence while
    the cheap keys still dominate the budget.
    """
    rows = _driver_rows()

    def group(key: str) -> int:
        row = rows.get(key)
        if row is None:
            return 1
        err = row.get("err")
        if err == "no_oracle":
            # rows-only sweep that ran clean: red only if the key has
            # since graduated to a full hash oracle (re-sweep it), else
            # nothing new to learn — treat as green.
            return 1 if key in ORACLES else 2
        red = (
            err is not None
            or row.get("rows_match") is False
            or row.get("schema_match") is False
            or row.get("hash_match") is False
        )
        if red:
            return 0
        if row.get("hash_match") is None and key in ORACLES:
            return 1  # swept rows-only, but now has a hash oracle: re-sweep
        if row.get("rows_match") is None:
            return 1  # err-free but never actually verified: treat as unswept
        if row.get("_round", 0) < _CODE_CHANGED.get(key, 0):
            return 1  # green row, but it validates OLDER code: re-sweep
        return 2

    def staleness(key: str) -> int:
        # group-2 tiebreak: the round whose sweep produced the
        # surviving row (older = sweep sooner); groups 0/1 have no
        # meaningful row age, keep registry order there
        if group(key) != 2:
            return 0
        row = rows.get(key)
        return row.get("_round", 0) if row else 0

    order = list(QUERIES)
    idx = {k: i for i, k in enumerate(order)}
    # rotation quota: stalest expensive GREEN keys sort with the cheap
    # keys (stalest-first puts their old stamps near the front of
    # group 2), guaranteeing a budget-limited sweep refreshes some
    # expensive evidence every round.  The quota covers the WHOLE
    # oldest evidence tier, with a floor of the 5 stalest — a fixed 5
    # left round 12's sixth r6-stamped expensive key (ml_kmeans, the
    # registry-order tiebreak loser) stranded at position ~256 while
    # the verdict's "minimum evidence age advances" target needed the
    # full tier cleared.  The cap-at-8 exists so a HUGE stale tier
    # cannot crowd the cheap keys out of the ~50-key budget — but
    # crowding is only possible when the whole oldest tier (cheap +
    # expensive) outgrows the budget, so the cap applies ONLY then:
    # round 13's oldest tier was 41 keys with NINE expensive members,
    # and a blanket cap of 8 would have stranded the ninth
    # (ml_train_tree) for a full extra round even though the entire
    # tier fit in one sweep.
    expensive_green = sorted(
        (k for k in order if group(k) == 2 and k in _EXPENSIVE_LAST),
        key=lambda k: (staleness(k), idx[k]),
    )
    n_promote = 5
    if expensive_green:
        oldest = staleness(expensive_green[0])
        tier = sum(1 for k in expensive_green if staleness(k) == oldest)
        # "fits one budget" must count EVERYTHING that sorts at or
        # ahead of the promoted tier, not just the tier's own bucket:
        # group-0/1 keys take budget slots first, and a cheap-only
        # tier strictly staler than every expensive key does too —
        # under-counting either would waive the cap while the slow
        # promoted keys crowd cheap stale keys out of the real budget.
        ahead = sum(
            1
            for k in order
            if group(k) < 2 or (group(k) == 2 and staleness(k) <= oldest)
        )
        # promoted tier + everything ahead fits one budget
        if ahead <= _SWEEP_BUDGET - _SWEEP_FIT_HEADROOM:
            n_promote = max(5, tier)
        else:
            n_promote = min(8, max(5, tier))
    promoted = set(expensive_green[:n_promote])
    ranked = sorted(
        order,
        key=lambda k: (
            group(k),
            k in _EXPENSIVE_LAST and k not in promoted,
            staleness(k),
            idx[k],
        ),
    )
    return {k: QUERIES[k] for k in ranked}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checkable query key."""
    return dict(ORACLES)
