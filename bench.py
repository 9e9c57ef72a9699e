#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines: the full per-query detail line, then a compact
summary line (metric/value/calib/value_per_calib/load_hint/contended)
LAST so a tail-capture-limited harness always gets a parseable
headline:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}
  {"metric": "...", "value": <total sec>, ..., "contended": bool}

Queries are materialized through the noop sink (forces every column
and operator, no driver-side transfer skew). Compare against
BASELINE.md's PySpark column — same engine class, same box.

Contention detection is two independent detectors OR-ed into the
summary line's ``contended`` flag: (a) calibration probes bracketing
the suite (a steal burst big enough to move a fixed JVM-side job),
and (b) a per-key drift check against each key's OWN rolling median
across prior clean runs (``BENCH_MEDIANS.json``), with one automatic
headline re-run before flagging — thin steal spread across many keys
moves (b) long before it moves (a), which is how round 11 shipped an
11%-regressed artifact with ``contended: false``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_caffe_spark import get_spark
from pyspark_caffe_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-key median history (rolling, cross-run) for the steal detector.
# The single-job calib probe under-detects thin steal spread across
# keys: BENCH_r11 shipped an 11%-regressed headline with
# `contended: false` because the probe happened to land between
# bursts.  Each key's timing vs its OWN history is a far stronger
# signal — a burst that slows >DRIFT_KEYS_MAX headline keys >25% in
# the slow direction at once is contention, not a plan change (plan
# changes move specific keys, not the board).
HISTORY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_MEDIANS.json"
)
HISTORY_CAP = 12          # runs kept per history file
DRIFT_THRESHOLD = 0.25    # a key "drifts" if median > 1.25x its history median
DRIFT_KEYS_MAX = 5        # >5 drifting headline keys => contended, rerun once


def _load_history() -> list[dict]:
    try:
        with open(HISTORY_PATH) as f:
            data = json.load(f)
        # a hand-edited / partially-written file whose top level is not
        # an object must degrade to "no history", never crash the bench
        # (json.load on `[]`/`null` succeeds and .get would raise)
        if not isinstance(data, dict):
            return []
        runs = data.get("runs", [])
        if not isinstance(runs, list):
            return []
        return [r for r in runs if isinstance(r, dict)]
    except (OSError, ValueError):
        return []


def _history_medians(
    runs: list[dict], field: str = "queries"
) -> dict[str, float]:
    """Per-key median over prior CLEAN runs (contended runs excluded so
    a bad streak can't ratchet the reference upward; falls back to all
    runs if no clean one exists yet).  ``field`` selects the tier
    ("queries" for headline, "queries_extra" for the extras suite —
    each tier drifts against its OWN history).

    Rerun-sourced records (tagged ``rerun``) are excluded when enough
    never-rerun clean records exist: a rerun that ended contended=false
    still started from a pass contended enough to trigger it, so its
    pass-2 medians can carry residual steal — letting them into the
    reference pool would inflate the medians and dull future drift
    detection.  ≥2 pristine records is "enough" (one alone would make
    a single lucky/unlucky run THE reference) — counted over records
    that actually CARRY this tier's field: legacy headline-only
    records are vacuously "pristine" for the extras tier (they predate
    rerun_extra), and counting them could select a pristine pool with
    zero extras data, silently disabling extras drift detection while
    rerun-tagged extras records sit unused."""
    clean = [r for r in runs if not r.get("contended")]
    rerun_key = "rerun" if field == "queries" else "rerun_extra"
    bearing = [r for r in clean if r.get(field)]
    pristine = [r for r in bearing if not r.get(rerun_key)]
    pool = pristine if len(pristine) >= 2 else (clean if clean else runs)
    acc: dict[str, list[float]] = {}
    for r in pool:
        for k, v in (r.get(field) or {}).items():
            if isinstance(v, (int, float)):
                acc.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in acc.items() if v}


def _drifting_keys(
    timings: dict[str, float], ref: dict[str, float]
) -> list[str]:
    """Headline keys slower than (1+DRIFT_THRESHOLD)x their own history
    median.  Only the slow direction counts: faster keys are
    improvements (or favorable noise), not steal."""
    out = []
    for k, v in timings.items():
        m = ref.get(k)
        if m and m > 0 and (v / m - 1.0) > DRIFT_THRESHOLD:
            out.append(k)
    return out


def _drift_gate(run_set, names: list[str], ref: dict[str, float]):
    """Run one tier through the drift detector: time the keys once; if
    more than DRIFT_KEYS_MAX of them land >25% over their own cross-run
    median (a board-wide slow move = steal burst, not a plan change),
    rerun the tier ONCE and keep the per-key min of the two medians —
    the less-contended estimate for each key.

    Returns ``(timings, best, drifted, rerun, history_timings)`` where
    ``history_timings`` is what _save_history must record: the SECOND
    pass's plain medians on a rerun, never the min-merge —
    min-of-two-medians is a biased-low estimator vs the single-pass
    median every other record stores, and a rerun that ends
    contended=false would otherwise ratchet the cross-run reference
    downward (inflating future drift flags)."""
    timings, best = run_set(names)
    drifted = _drifting_keys(timings, ref)
    rerun = False
    history_timings = timings
    if len(drifted) > DRIFT_KEYS_MAX:
        rerun = True
        timings2, best2 = run_set(names)
        timings = {k: min(timings[k], timings2[k]) for k in timings}
        best = {k: min(best[k], best2[k]) for k in best}
        drifted = _drifting_keys(timings, ref)
        history_timings = timings2
    return timings, best, drifted, rerun, history_timings


def _save_history(runs: list[dict], record: dict) -> None:
    """Append ``record`` and cap the history PER SCALE FACTOR: the
    reference pool is sf-scoped, so a dozen smoke runs at sf0.001 must
    not evict the sf0.1 reference records from a global window and
    silently disable the sf0.1 drift detector (records predating the
    sf field count as sf0.1, same default the pool filter uses)."""
    runs = runs + [record]
    kept: list[dict] = []
    seen_per_sf: dict = {}
    for r in reversed(runs):  # newest first, keep the last CAP per sf
        sf = r.get("sf", 0.1)
        if seen_per_sf.get(sf, 0) < HISTORY_CAP:
            seen_per_sf[sf] = seen_per_sf.get(sf, 0) + 1
            kept.append(r)
    runs = list(reversed(kept))
    try:
        with open(HISTORY_PATH, "w") as f:
            json.dump({"version": 1, "runs": runs}, f)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the detector still ran, just unsaved

# Headline set (22): the BASELINE.md shapes plus one representative per
# capability layer (relational / window / streaming twin / ML / LLM /
# round-2 training-data ops).
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
    # round-2 additions: one per new capability family
    "sim_knn_batch",      # batch ANN serving shape (broadcast + window)
    "pipeline_training_snapshot",  # quality→dedup→subsample, one plan
    "sink_merge_upsert",  # MERGE-style copy-on-write upsert
    "pack_shards",        # token-budget sequence packing
    "events_sessionize",  # idle-gap sessionization, single shuffle
    "text_tfidf",         # corpus TF-IDF, top-5 terms per doc
]

# Round-7 additions, timed identically but reported SEPARATELY
# (queries_extra) and excluded from `value`, so the 22-query headline
# total stays comparable round-over-round and against BASELINE.md.
EXTRA = [
    "join_q21_waiting",        # decorrelated one-pass Q21
    "agg_q19_disjunctive",     # cross-side OR with implied pushdowns
    "agg_q9_profit",           # 4-dim join profit rollup
    "text_quality_classifier", # zero-shuffle linear quality filter
    "corpus_importance_sample",# hash-gated importance sampling
    "events_pattern_detect",   # MATCH_RECOGNIZE unrolled, one shuffle
    "events_path_topk",        # 3-step journey mining
    "ml_pca_project",          # moment-partial PCA + projection
    "agg_percentile_exact",    # exact interpolated percentiles
    # round-8 additions
    "sim_bipartite_rewrite",   # bipartite A×B cosine rewrite (exact tier)
    "sim_knn_ivf_batch",       # batched IVF serving, per-query recall
    # round-9 additions
    "sink_ann_index",          # persisted IVF index build + audit
    "sim_knn_ivf_serve",       # serve query batch from the stored index
    # round-10: PURE serve latency (reuses the index sink_ann_index
    # just persisted — the amortized product number, r9 verdict #5)
    "sim_knn_ivf_serve_only",
    "win_ewma",                # 20-term exact EWMA, one window exec
    "text_html_strip",         # boilerplate strip, scan-side map
    "pipeline_incremental",    # state + pruned-delta refresh
    "events_rfm",              # histogram-CDF quintile RFM
    "sim_mmr_diversify",       # greedy MMR slate selection
    "text_line_dedup",         # cross-doc boilerplate line removal
    "corpus_curriculum",       # CDF-staged curriculum ordering
    "events_attribution",      # last-touch + linear attribution
    "dedup_url_canonicalize",  # URL canonicalize + keep-first
    "ml_retrieval_eval",       # per-query MRR / hit@k eval
    "agg_theta_audience_overlap",  # theta-sketch set ops + bound proof
    "agg_kll_quantile_sketch",     # KLL mergeable quantiles + rank proof
    "agg_theta_sketch_rollup",     # stored theta sketches, range set ops
    "agg_kll_sketch_rollup",       # stored KLL sketches, range quantiles
    "stream_state_inspect",        # query the checkpoint state store
    "events_resample_interpolate", # hourly grid + linear interpolation
    "events_survival",             # lifespan survival curve
    "join_interval_coalesce",      # overlapping-interval merging
    "events_anomaly_robust",       # median/MAD modified z-score
    "ml_bootstrap_ci",             # Poisson bootstrap, one scan
    "events_changepoint",          # mean-shift split, prefix sums
    "ml_ks_test",                  # exact two-sample KS, integer argmax
    "ml_permutation_test",         # randomization test, one scan
    "agg_benford",                 # first-digit data-quality audit
    "join_recursive_closure",      # frontier-iterated hierarchy closure
    # round-10 additions
    "graph_connected_components",  # alternating large/small-star CC
    "graph_triangle_count",        # degree-oriented wedge triangle count
    "sim_knn_ivf_refresh",         # incremental postings append + re-serve
    # round-11 addition
    "sink_ann_index_compact",      # per-cell postings OPTIMIZE + identity proof
    # round-12: PURE compaction latency (reuses the _compact index the
    # full verb just persisted — the amortized maintenance number,
    # r11 verdict #5; same split serve_only made for serve)
    "sink_ann_index_compact_only",
]


_COMPACT = {"separators": (",", ":")}


def _chunk_lines(tag: str, field: str, d: dict, max_len: int = 600) -> list[str]:
    """``d`` split into compact JSON lines ``{"metric": "<tag> (i/n)",
    field: {...}}`` of at most ``max_len`` chars each (an entry too long
    on its own still gets a line).  Chunks are sized with the real tag
    at the widest index the split can reach (n ≤ len(d)), so the
    numbering never pushes a line past the limit."""
    w = "9" * len(str(max(len(d), 1)))
    probe_tag = f"{tag} ({w}/{w})"
    chunks: list[dict] = [{}]
    for k in d:  # insertion order — stable across runs
        chunks[-1][k] = d[k]
        probe = json.dumps({"metric": probe_tag, field: chunks[-1]}, **_COMPACT)
        if len(probe) > max_len and len(chunks[-1]) > 1:
            chunks[-1].pop(k)
            chunks.append({k: d[k]})
    n = len(chunks)
    return [
        json.dumps({"metric": f"{tag} ({i + 1}/{n})", field: c}, **_COMPACT)
        for i, c in enumerate(chunks)
    ]


def main() -> None:
    spark = get_spark("pyspark-caffe-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Session warm-up (JIT/codegen/scheduler) — BASELINE.md's numbers
    # are warm-process ("single warm-process runs"), so match that.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["agg_hash_groupby"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    # Calibration probe: a fixed, data-independent, JVM-side job whose
    # cost is pure compute.  This box runs under a hypervisor with
    # measured steal time up to ~45% of user time, which moves the
    # whole suite 2-3× between runs with identical code; calib makes
    # that visible so round-over-round comparisons can normalize
    # (suite_seconds / calib_seconds is contention-invariant to first
    # order).
    def calib_probe() -> float:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(500_000_000).selectExpr(
                "sum(cast(hash(id) as bigint) % 1000000)"  # bounded: no ANSI overflow
            ).collect()
            samples.append(time.perf_counter() - t0)
        return sorted(samples)[1]

    # TWO opening probes, for two different jobs:
    #   calib_cold — the probe shape's FIRST execution (fresh JIT
    #     profile), the exact number every round r8-r11 recorded as
    #     calib_sec: it stays the value_per_calib divisor so the
    #     normalized suite cost remains comparable across rounds
    #     (r10's vpc-39 bar was set on this definition);
    #   calib — the SAME probe re-run warm, apples-to-apples with the
    #     closing probe: the cold probe runs a systematic ~1.15-1.3x
    #     slower than the closing one on clean runs (r8: 1.27, r10:
    #     1.29 — grazing the 1.3 contention threshold with zero
    #     actual steal), so load_hint must compare warm vs warm or it
    #     cries wolf.
    calib_cold = round(calib_probe(), 3)
    calib = round(calib_probe(), 3)
    # Three passes per query, report the MEDIAN: single warm runs on
    # this suite swing ±20-40% under box-level contention (r02→r04
    # showed ±30% per-query deltas with zero plan changes), so one
    # sample can't distinguish a regression from noise. Median-of-3 is
    # robust to one outlier either way; the min is kept as a
    # side-channel ("best-case plan cost") for round-over-round
    # comparison.
    # SPARK_GRAFT_BENCH_REPS overrides the pass count (default 3;
    # the round-9 controlled re-measure used 5 per the r8 verdict).
    # Validated HERE, before the minutes-long warmup+calibration, so a
    # bad value fails with the knob's name instead of a
    # StatisticsError on the first query's empty sample list.
    reps_raw = os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")
    try:
        reps = int(reps_raw)
    except ValueError:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_REPS must be a positive integer, got {reps_raw!r}"
        )
    if reps < 1:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_REPS must be >= 1, got {reps}"
        )

    def run_set(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        med: dict[str, float] = {}
        best: dict[str, float] = {}
        for name in names:
            samples: list[float] = []
            for _ in range(reps):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            samples.sort()
            # statistics.median interpolates for even rep counts — the
            # upper-middle pick biased even-rep medians upward
            med[name] = round(statistics.median(samples), 3)
            best[name] = round(samples[0], 3)
        return med, best

    # strict sf<float> basename parse (the old .replace('sf','') also
    # stripped interior 'sf' substrings, and any suffix like
    # sf0.1-v2 silently disabled the per-key drift detector via
    # sf=None — the detector that caught the BENCH_r11 regression)
    import re as _re

    m = _re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(SF_DIR.rstrip("/")))
    sf = float(m.group(1)) if m else None
    if sf is None:
        print(
            f"warning: SF_DIR basename {os.path.basename(SF_DIR.rstrip('/'))!r} "
            "is not 'sf<float>' — per-key drift detection is OFF for this run",
            file=sys.stderr,
        )
    history = _load_history()
    # reference pool is scoped to THIS run's scale factor: a smoke run
    # at sf0.001 writing 0.01-second medians into the pool would make
    # every future sf0.1 key look 25%+ "drifted" (records predating the
    # sf field were all sf0.1 runs)
    ref_pool = [r for r in history if r.get("sf", 0.1) == sf]
    ref_medians = _history_medians(ref_pool)

    # Per-key drift check vs each key's own cross-run median, one
    # definition for both tiers (_drift_gate).  If the board drifted
    # slow (>DRIFT_KEYS_MAX keys >25% over history), a steal burst hit
    # the suite — rerun the tier ONCE and keep the per-key min of the
    # two medians (the less-contended estimate for each key).  One
    # rerun bounds added wall-clock at ~1 tier pass; if the box is
    # busy all day both passes drift and the summary honestly reports
    # contended=true.  The EXTRA tier gets the SAME machinery
    # (round-12 verdict #1): BENCH_r12 shipped seven extras keys
    # 1.3-2.6x regressed by pure box noise with no flag because only
    # HEADLINE had a reference — and the ANN product metrics
    # (serve_only, compact_only) live in extras, so the driver's
    # number of record for that work was unguarded.  The trigger is
    # the same absolute key count for both tiers: thin steal spreads
    # across the whole board, not per tier-size proportion.
    timings, best_case, drifted, drift_rerun, history_timings = _drift_gate(
        run_set, HEADLINE, ref_medians
    )
    drift_contended = len(drifted) > DRIFT_KEYS_MAX
    ref_medians_extra = _history_medians(ref_pool, field="queries_extra")
    extra_timings, _, drifted_extra, extra_rerun, history_extra = _drift_gate(
        run_set, EXTRA, ref_medians_extra
    )
    extra_contended = len(drifted_extra) > DRIFT_KEYS_MAX
    # second probe AFTER the suite: steal bursts that start mid-run are
    # invisible to the opening probe (observed: opening calib 0.37 with
    # unchanged queries 2-4x slower mid-suite).  The normalizer uses
    # the WORSE (slower) of the two probes — a conservative divisor, so
    # value_per_calib never flatters a contended run.
    calib_end = round(calib_probe(), 3)
    # legacy-conservative divisor: max over ALL probes including the
    # cold one, exactly as r8-r11 (max of cold-start and end) — vpc
    # never flatters a contended run AND stays on the historical scale
    calib_norm = max(calib_cold, calib, calib_end)
    total = round(sum(timings.values()), 3)
    # ONE definition of the printed suite vpc (was written out twice;
    # a partial edit would let the detail and summary lines disagree)
    vpc = round(total / calib_norm, 2) if calib_norm else None
    # Metric names: the query count is DERIVED from the headline list
    # (a hardcoded "22" would drift silently if HEADLINE changes), and
    # the summary line carries a distinct "(summary)" suffix so a
    # consumer aggregating by metric name never double-counts the
    # suite (round-10 advice).
    metric_base = (
        f"headline suite wall-clock ({len(HEADLINE)} queries, "
        f"noop-materialized, median of {reps})"
    )
    print(
        json.dumps(
            {
                "metric": metric_base,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": best_case,
                "queries_extra": extra_timings,
                "calib_sec": calib_cold,
                "calib_warm_sec": calib,
                "calib_end_sec": calib_end,
                # contention-normalized suite cost: suite seconds per
                # calibration second.  The hypervisor steals up to ~45%
                # CPU on this box, moving RAW wall-clocks 2-3x between
                # identical-code runs; value/calib is invariant to
                # that to first order, so round-over-round comparisons
                # should use THIS number (and treat raw seconds as
                # environment-dependent).
                "value_per_calib": vpc,
                "sf": sf,
                # per-key steal detector detail (summary carries the
                # boolean; this line carries which keys drifted)
                "drift_ref_runs": len(ref_pool),
                "drift_keys": drifted,
                "drift_rerun": drift_rerun,
                "drift_keys_extra": drifted_extra,
                "drift_rerun_extra": extra_rerun,
            }
        )
    )
    # Per-query data in SHORT lines (round 19, per the r18 verdict):
    # the driver's tail capture is 2000 chars, so the giant detail
    # line above is cut mid-dict in every round's BENCH_r*.json and
    # the driver's PERF per_query/geomean/scaling blocks came out
    # empty.  Emit the same per-key dicts again as SEPARATE compact
    # JSON lines, ordered least-important-first (extras chunks, then
    # the headline dict — the shortest — last before the summary), so
    # the tail always contains complete parseable lines carrying the
    # headline per-query medians and as much of the extras tier as
    # fits.  Pure output-format addition: timings, methodology, and
    # the two existing lines (detail above, summary below) are
    # unchanged.
    for line in _chunk_lines("bench extras per-query", "queries_extra", extra_timings):
        print(line)
    print(
        json.dumps(
            {
                "metric": "bench headline per-query",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "queries": timings,
            },
            **_COMPACT,
        )
    )
    # Compact summary line LAST: the full line above outgrew the
    # driver's 2000-char tail capture once queries_extra passed ~40
    # entries (BENCH_r09.json recorded "parsed": null because the tail
    # started mid-dict).  The driver parses the LAST json line it can,
    # so this short line guarantees a parseable headline every round;
    # the full per-query detail stays one line up for humans/PERF.md.
    load_hint = (
        round(max(calib, calib_end) / min(calib, calib_end), 2)
        if min(calib, calib_end) > 0
        else None
    )
    # Cold-probe detector (round-14 self-review): the COLD probe is in
    # the vpc divisor but was covered by NO detector — a steal burst
    # hitting only the opening probe inflates calib_norm and silently
    # FLATTERS vpc with contended=false.  JIT bias alone puts
    # cold/warm at ~1.2-1.45x on this box (PERF.md r12/r14 probes), so
    # the threshold is 2.0x vs the warm probe — above any observed
    # compile noise, below the 2-3x a real burst moves a fixed job.
    cold_hint = (
        round(calib_cold / calib, 2) if calib > 0 else None
    )
    # ONE definition of the flag: the printed summary and the history
    # record (which gates the clean reference pool) must never diverge.
    # Extras drift counts too — steal during the extras passes makes
    # the whole artifact suspect (both tiers ran in one process window)
    contended = (
        (load_hint is not None and load_hint > 1.3)
        or (cold_hint is not None and cold_hint > 2.0)
        or drift_contended
        or extra_contended
    )
    print(
        json.dumps(
            {
                "metric": metric_base + " (summary)",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "calib_sec": calib_cold,
                "calib_warm_sec": calib,
                "calib_end_sec": calib_end,
                "value_per_calib": vpc,
                # contention telemetry, detectors OR-ed:
                # (a) calib probes bracketing the suite disagree >1.3x
                #     (a burst big enough to move the probe), and
                # (b) per-key drift: >DRIFT_KEYS_MAX headline keys ran
                #     >25% over their own cross-run median even after
                #     one auto-rerun (thin steal spread the probe
                #     misses — the BENCH_r11 failure mode).
                # When contended=true, read value_per_calib, not raw
                # seconds.
                "load_hint": load_hint,
                "cold_hint": cold_hint,
                "drift_keys_n": len(drifted),
                "drift_rerun": drift_rerun,
                "drift_keys_extra_n": len(drifted_extra),
                "drift_rerun_extra": extra_rerun,
                "contended": contended,
            }
        )
    )
    # the record's vpc derives from the SAME timings the record stores
    # (history_timings: pass-2 plain medians on a rerun) — on a rerun
    # the printed vpc uses the min-merged total, and recording that
    # against pass-2 queries would make the record self-inconsistent
    # for any consumer recomputing sum(queries)/calib_norm_sec
    # (round-14 self-review)
    record_total = round(sum(history_timings.values()), 3)
    record = {
        "sf": sf,
        "queries": history_timings,
        "queries_extra": history_extra,
        "calib_norm_sec": calib_norm,
        "value_per_calib": (
            round(record_total / calib_norm, 2) if calib_norm else None
        ),
        "contended": contended,
    }
    if drift_rerun:
        record["rerun"] = True
    if extra_rerun:
        record["rerun_extra"] = True
    _save_history(history, record)


if __name__ == "__main__":
    main()
