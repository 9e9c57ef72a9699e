"""ML model-apply layer — SURVEY.md §2.10.

The semantic port of the reference's surface (kjchavez/pyspark-caffe:
distributed Caffe inference / feature extraction / parameter-averaged
training over Spark; the reference directory is empty, so the
architecture follows the published SparkNet/CaffeOnSpark family —
SURVEY.md §0). Caffe itself is never imported: models are
deterministic numpy linear maps, reproducing the operator semantics
(broadcast weights → per-batch forward pass → new columns).

These query keys are thin adapters over the PUBLIC API in
:mod:`pyspark_caffe_spark.model` — the module a user of the reference
would switch to. Execution model (the part that matters at 100 TB):
weights broadcast once per executor; forward passes run per Arrow
batch (the reference's minibatch); data crosses into Python only
through the vectorized Arrow channel.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_caffe_spark.model import (
    LinearModel,
    extract_features,
    predict_class,
    score_column,
    train_parameter_averaging,
)
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.tables import load_embeddings, load_table, md5_long
from pyspark_caffe_spark.vecops import _dot, knn_batch

DIM = 64
N_CLASSES = 10

# Deterministic model weights, rounded to 6 decimals so the SAME
# literals can be embedded in the DuckDB oracle SQL (decimal literals
# parse to identical doubles in both engines).
_rng = np.random.default_rng(42)
W_SCORE = np.round(_rng.standard_normal(DIM), 6)  # 64 → 1 scorer
W_FEAT = np.round(_rng.standard_normal((4, DIM)), 6)  # 64 → 4 extractor
W_CLS = np.round(_rng.standard_normal((N_CLASSES, DIM)), 6)  # 64 → 10 classifier

SCORER = LinearModel(W_SCORE, activation="sigmoid")
# raw (no sigmoid) scorer for top-k ranking: sigmoid saturates near 1.0
# and would collapse rounded near-ties, changing top-10 order vs the
# oracle's raw dot product
RAW_SCORER = LinearModel(W_SCORE)
EXTRACTOR = LinearModel(W_FEAT)
CLASSIFIER = LinearModel(W_CLS)


def _sql_vec(v: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _argmax(s: Column) -> Column:
    """0-based index of the first maximum of the array column ``s`` —
    np.argmax's first-max-wins rule, the oracles' ``CASE GREATEST``
    order."""
    return (F.array_position(s, F.array_max(s)) - 1).cast("int")


@query(
    "ml_model_apply",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(1 / (1 + EXP(-LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                {_sql_vec(W_SCORE)}))), 6) AS score
    FROM embeddings
    """,
)
def ml_model_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched model inference over a column (reference analog: Caffe
    ``net.forward`` per minibatch) via model.score_column."""
    return score_column(
        _emb(spark, sf_dir), SCORER, "embedding", "score", ndigits=6
    ).select("vec_id", "label", "score")


@query(
    "ml_feature_extract",
    oracle=f"""
    SELECT vec_id,
           ARRAY_TO_STRING(
             [CAST(CAST(ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[0])}), 6) AS DECIMAL(18,6)) AS VARCHAR),
              CAST(CAST(ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[1])}), 6) AS DECIMAL(18,6)) AS VARCHAR),
              CAST(CAST(ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[2])}), 6) AS DECIMAL(18,6)) AS VARCHAR),
              CAST(CAST(ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[3])}), 6) AS DECIMAL(18,6)) AS VARCHAR)
             ], ',') AS features
    FROM embeddings
    """,
)
def ml_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction producing a new feature vector (reference
    analog: Caffe blob extraction) via model.extract_features.

    The array<double> vector is serialized to a comma-joined string via
    DECIMAL(18,6) — array-typed outputs crash the driver's
    canonicalizer; downstream consumers keep the array form by calling
    model.extract_features directly."""
    feats = extract_features(
        _emb(spark, sf_dir), EXTRACTOR, "embedding", "features", ndigits=6
    )
    return feats.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("features"),
                lambda x: x.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("features"),
    )


_CLS_SCORE_SQL = [
    f"ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_CLS[c])}), 6)"
    for c in range(N_CLASSES)
]
_CLS_ARGMAX_SQL = (
    "CASE GREATEST(" + ", ".join(_CLS_SCORE_SQL) + ") "
    + " ".join(f"WHEN {s} THEN {c}" for c, s in enumerate(_CLS_SCORE_SQL[:-1]))
    + f" ELSE {N_CLASSES - 1} END"
)


@query(
    "ml_predict_join",
    oracle=f"""
    SELECT label, {_CLS_ARGMAX_SQL} AS pred, COUNT(*) AS n
    FROM embeddings
    GROUP BY label, pred
    """,
)
def ml_predict_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify embeddings (argmax of the 10×64 model), join prediction
    against the stored label → confusion matrix. The groupBy after
    model-apply shuffles only (label, pred, count).

    Oracle-checkable because the argmax runs over ROUNDED scores with
    first-max-wins ties, mirrored by the oracle's CASE in class order
    (the ml_multi_model_apply pattern extended to 10 heads)."""
    preds = predict_class(_emb(spark, sf_dir), CLASSIFIER, "embedding", "pred", ndigits=6)
    return preds.groupBy("label", "pred").agg(F.count("*").alias("n"))


@query(
    "ml_batch_score_topk",
    oracle=f"""
    SELECT vec_id, label,
           ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_SCORE)}), 6) AS score
    FROM embeddings
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
)
def ml_batch_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every row, return the global top-10 (TakeOrderedAndProject
    — per-partition top-k, k-row driver merge). Ordering on the
    ROUNDED score keeps near-tie ranking cross-engine stable."""
    scored = score_column(_emb(spark, sf_dir), RAW_SCORER, "embedding", "score", ndigits=6)
    return (
        scored.select("vec_id", "label", "score")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "ml_train_iter",
    oracle="""
    SELECT COUNT(*) AS n_train, true AS mse_monotone, true AS mse_improved
    FROM embeddings
    """,
)
def ml_train_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter-averaging SGD (the SparkNet loop, arXiv:1511.06051 —
    the reference's training architecture) via
    model.train_parameter_averaging: 3 rounds of ridge regression of
    label on embedding.

    Invariant-literal oracle: the per-round MSE values are
    optimizer-specific floats, so the emitted row carries the
    training-set size plus verdict booleans from the actual loss
    trace — monotone non-increasing across rounds, and final MSE
    strictly below the pre-training one. The oracle emits literal
    ``true`` for both; a diverging run flips the hash-checked value."""
    emb = _emb(spark, sf_dir)
    n_train = emb.count()
    _, losses = train_parameter_averaging(emb, "embedding", "label", dim=DIM, rounds=3)
    row = (
        n_train,
        all(b <= a + 1e-9 for a, b in zip(losses, losses[1:])),
        len(losses) >= 2 and losses[-1] < losses[0],
    )
    return spark.createDataFrame(
        [row], schema="n_train long, mse_monotone boolean, mse_improved boolean"
    )


@query(
    "ml_centroids",
    oracle="""
    WITH bypos AS (
      SELECT label, pos, AVG(v) AS m
      FROM (SELECT label,
                   UNNEST(CAST(embedding AS DOUBLE[])) AS v,
                   GENERATE_SUBSCRIPTS(embedding, 1)   AS pos
            FROM embeddings)
      GROUP BY label, pos
    )
    SELECT label, CAST(COUNT(*) AS INT) AS dim,
           STRING_AGG(CAST(CAST(ROUND(m, 6) AS DECIMAL(18,6)) AS VARCHAR),
                      ',' ORDER BY pos) AS centroid
    FROM bypos GROUP BY label
    """,
)
def ml_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (class prototype) — the reduction
    behind nearest-centroid classifiers, cluster summaries, and
    IVF coarse training. posexplode to (label, pos, value), partial
    avg per (label, pos) — the shuffle carries tiny (label, pos,
    sum, count) tuples thanks to map-side partial aggregation, never
    whole vectors — then one re-assembly groupBy(label) with a
    position-sorted join of the 64 means into the DECIMAL-text
    serialization (array outputs crash the driver canonicalizer)."""
    emb = _emb(spark, sf_dir).select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    bypos = emb.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return bypos.groupBy("label").agg(
        F.count("*").cast("int").alias("dim"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s["m"], 6).cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("centroid"),
    )


@query(
    "ml_multi_model_apply",
    oracle=f"""
    SELECT vec_id,
           ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[0])}), 6) AS score_m0,
           ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[1])}), 6) AS score_m1,
           ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[2])}), 6) AS score_m2,
           CASE GREATEST(
                  ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[0])}), 6),
                  ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[1])}), 6),
                  ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[2])}), 6))
             WHEN ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[0])}), 6) THEN 0
             WHEN ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_FEAT[1])}), 6) THEN 1
             ELSE 2 END AS best_model
    FROM embeddings
    """,
)
def ml_multi_model_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-zoo batch inference: THREE scoring heads applied in ONE
    Arrow pass over the corpus (one model.extract_features pass, one
    matmul against the stacked 3×64 weight matrix) instead of three
    separate scans — at 100 TB, scan count is the cost, so multi-head
    application must amortize it. best_model = argmax over the
    rounded heads, first-max-wins (:func:`_argmax`) — mirrored in the
    oracle's CASE ordering."""
    s = F.col("s")
    return extract_features(
        _emb(spark, sf_dir), LinearModel(W_FEAT[:3]), "embedding", "s", ndigits=6
    ).select(
        "vec_id",
        *[s[m].alias(f"score_m{m}") for m in range(3)],
        _argmax(s).alias("best_model"),
    )


@query(
    "ml_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             LIST_MAX(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> ABS(x))) / 127 AS scale
      FROM embeddings
    )
    SELECT e.vec_id,
           ROUND(q.scale, 9) AS scale,
           CAST(LIST_MAX(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]),
                x -> ABS(ROUND(x / q.scale) * q.scale - x))) <= q.scale / 2 + 1e-12
                AS BOOLEAN) AS within_half_step
    FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    """,
)
def ml_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/bandwidth optimization of a 100 TB vector store (4× smaller
    than float32, 8× than float64; dot products stay SIMD-able). Per
    vector: scale = max|x|/127, codes = round(x/scale); the query
    verifies the reconstruction error bound (≤ scale/2 per element) —
    the invariant that makes quantized retrieval rankings trustworthy.
    Entirely JVM-side higher-order functions; no Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(d, lambda x: F.abs(x))) / 127
    err = F.array_max(
        F.transform(d, lambda x: F.abs(F.round(x / F.col("scale")) * F.col("scale") - x))
    )
    return (
        emb.select("vec_id", d.alias("embedding"), scale.alias("scale"))
        .select(
            "vec_id",
            F.round("scale", 9).alias("scale"),
            (err <= F.col("scale") / 2 + 1e-12).alias("within_half_step"),
        )
    )


_rng_b = np.random.default_rng(43)
W_CLS_B = np.round(_rng_b.standard_normal((N_CLASSES, DIM)), 6)  # challenger head
CLASSIFIER_B = LinearModel(W_CLS_B)

_CLS_B_SCORE_SQL = [
    f"ROUND(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), {_sql_vec(W_CLS_B[c])}), 6)"
    for c in range(N_CLASSES)
]
_CLS_B_ARGMAX_SQL = (
    "CASE GREATEST(" + ", ".join(_CLS_B_SCORE_SQL) + ") "
    + " ".join(f"WHEN {s} THEN {c}" for c, s in enumerate(_CLS_B_SCORE_SQL[:-1]))
    + f" ELSE {N_CLASSES - 1} END"
)


@query(
    "ml_ab_eval",
    oracle=f"""
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN pred_a = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_a,
           CAST(SUM(CASE WHEN pred_b = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_b,
           ROUND(AVG(CASE WHEN pred_a = label THEN 1.0 ELSE 0.0 END), 6) AS acc_a,
           ROUND(AVG(CASE WHEN pred_b = label THEN 1.0 ELSE 0.0 END), 6) AS acc_b
    FROM (
      SELECT label, {_CLS_ARGMAX_SQL} AS pred_a, {_CLS_B_ARGMAX_SQL} AS pred_b
      FROM embeddings
    )
    """,
)
def ml_ab_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion/challenger evaluation: TWO classifier heads applied and
    scored against the stored labels in ONE corpus pass (both argmax
    columns come off the same scan; the final aggregate reduces to a
    single row).  The at-scale point: model comparisons should never
    re-scan the corpus per model — score all heads per batch, aggregate
    once.  Rounded-argmax keeps both predictions oracle-stable."""
    emb = _emb(spark, sf_dir)
    preds = predict_class(emb, CLASSIFIER, "embedding", "pred_a", ndigits=6)
    preds = predict_class(preds, CLASSIFIER_B, "embedding", "pred_b", ndigits=6)
    a_ok = F.when(F.col("pred_a") == F.col("label"), 1).otherwise(0)
    b_ok = F.when(F.col("pred_b") == F.col("label"), 1).otherwise(0)
    return preds.agg(
        F.count("*").alias("n"),
        F.sum(a_ok).cast("long").alias("n_correct_a"),
        F.sum(b_ok).cast("long").alias("n_correct_b"),
        F.round(F.avg(a_ok), 6).alias("acc_a"),
        F.round(F.avg(b_ok), 6).alias("acc_b"),
    )


@query(
    "ml_calibration_bins",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(AVG(CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_positive
    FROM (
      SELECT label,
             ROUND(1 / (1 + EXP(-LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                  {_sql_vec(W_SCORE)}))), 6) AS score
      FROM embeddings
    )
    GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-calibration curve: sigmoid scores bucketed into 10
    equal-width bins; per bin, the mean score vs the observed positive
    rate (label ≥ 5 as the binary target).  One model pass + one tiny
    groupBy — calibration at 100 TB costs no more than inference.
    score=1.0 clamps into bin 9 (LEAST), mirrored in the oracle."""
    scored = score_column(_emb(spark, sf_dir), SCORER, "embedding", "score", ndigits=6)
    bin_ = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    pos = F.when(F.col("label") >= 5, 1.0).otherwise(0.0)
    return scored.groupBy(bin_.alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg(pos), 6).alias("frac_positive"),
    )


@query(
    "ml_embedding_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(l2), 6) AS mean_norm,
           ROUND(STDDEV_SAMP(l2), 6) AS sd_norm,
           ROUND(MIN(l2), 6) AS min_norm,
           ROUND(MAX(l2), 6) AS max_norm
    FROM (
      SELECT label,
             SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS l2
      FROM embeddings
    )
    GROUP BY label
    """,
)
def ml_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution of the embedding column — the
    embedding-health audit (collapsed or exploding norms are the first
    symptom of a bad encoder run).  The norm is a codegen'd JVM
    higher-order ``aggregate`` over the array — NO Python, and the
    shuffle carries |labels| rows of scalar partial aggregates, never
    a vector."""
    emb = _emb(spark, sf_dir)
    d = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(_dot(d, d))
    return (
        emb.select("label", l2.alias("l2"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l2"), 6).alias("mean_norm"),
            F.round(F.stddev_samp("l2"), 6).alias("sd_norm"),
            F.round(F.min("l2"), 6).alias("min_norm"),
            F.round(F.max("l2"), 6).alias("max_norm"),
        )
    )


@query(
    "ml_knn_classifier",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS qid, q.label AS true_label, c.label AS nlabel,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(LIST_DOT_PRODUCT(q.e, c.e), 6) DESC, c.vec_id
             ) AS rk
      FROM q JOIN c ON q.vec_id <> c.vec_id
    ),
    votes AS (
      SELECT qid, true_label, nlabel, COUNT(*) AS n_votes
      FROM scored WHERE rk <= 5
      GROUP BY qid, true_label, nlabel
    )
    SELECT qid, true_label, nlabel AS pred_label, n_votes FROM (
      SELECT qid, true_label, nlabel, n_votes,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY n_votes DESC, nlabel) AS vrk
      FROM votes
    ) WHERE vrk = 1
    """,
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification (k=5, cosine-by-dot, majority vote with
    smallest-label tiebreak): the query block (every 50th vector)
    broadcasts onto the corpus — vecops.knn_batch — then two tiny
    windows (rank neighbours, rank votes) pick the prediction.  The
    corpus never shuffles: scoring is broadcast×scan, and everything
    after the top-k cut is queries×k rows.  Rounded scores + id/label tiebreaks keep the
    vote oracle-stable.

    The query slice is BOUNDED (`vec_id < 2000` — a no-op at every
    fixture SF, whose ids stop below 2000): a query set defined as a
    fixed FRACTION of the corpus makes broadcast×scan quadratic in
    corpus size — the round-8 100× sweep measured exactly that (4000
    queries × 200k corpus = 8×10⁸ scored rows).  The serving contract
    is a bounded query set against an unbounded corpus."""
    emb = load_embeddings(spark, sf_dir)
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    top = knn_batch(emb, q, 5).select(
        F.col("query_id").alias("qid"), "true_label", F.col("label").alias("nlabel")
    )
    votes = top.groupBy("qid", "true_label", "nlabel").agg(
        F.count("*").alias("n_votes")
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.desc("n_votes"), F.asc("nlabel")
    )
    return (
        votes.withColumn("vrk", F.row_number().over(w_vote))
        .filter(F.col("vrk") == 1)
        .select("qid", "true_label", F.col("nlabel").alias("pred_label"), "n_votes")
    )


@query(
    "ml_threshold_sweep",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
             ROUND(1 / (1 + EXP(-LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                                  {_sql_vec(W_SCORE)}))), 6) AS score
      FROM embeddings
    ),
    th AS (SELECT UNNEST(CAST([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9] AS DOUBLE[])) AS threshold)
    SELECT threshold,
           CAST(SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score < threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           ROUND(CAST(SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN score >= threshold THEN 1 ELSE 0 END), 0), 6) AS precision,
           ROUND(CAST(SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(y), 0), 6) AS recall
    FROM scored CROSS JOIN th
    GROUP BY threshold
    """,
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep (the PR-curve table): ONE model pass,
    then the (score, y) pairs — two tiny columns, not the corpus —
    cross the 9-threshold literal array and aggregate tp/fp/fn/
    precision/recall per threshold.  The explode multiplies only the
    scored projection; at 100 TB that is 9×16 bytes per row inside a
    map-side-combined aggregate, not 9 corpus scans (and not 9 jobs —
    the whole curve is one shuffle of 9 groups)."""
    scored = score_column(_emb(spark, sf_dir), SCORER, "embedding", "score", ndigits=6)
    y = F.when(F.col("label") >= 5, 1).otherwise(0)
    base = scored.select(y.alias("y"), "score")
    th = F.explode(F.array(*[F.lit(t / 10.0) for t in range(1, 10)])).alias("threshold")
    crossed = base.select("y", "score", th)
    pred = (F.col("score") >= F.col("threshold")).cast("int")
    tp = F.sum(pred * F.col("y"))
    fp = F.sum(pred * (1 - F.col("y")))
    fn = F.sum((1 - pred) * F.col("y"))
    return crossed.groupBy("threshold").agg(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(tp / F.nullif(F.sum(pred), F.lit(0)), 6).alias("precision"),
        F.round(tp / F.nullif(F.sum("y"), F.lit(0)), 6).alias("recall"),
    )


@query(
    "ml_pca_project",
    oracle="""
    SELECT CAST(g AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           CAST(64 AS BIGINT) AS dim,
           true AS eig_sorted_ok,
           true AS ortho_ok,
           true AS var_matches_eig_ok
    FROM generate_series(0, 3) t(g)
    """,
)
def ml_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA — the dimensionality-reduction pass a training
    pipeline runs over its embedding store, structured the only way
    that works at 100 TB:

      1. ONE Arrow pass computes per-partition moment partials
         (count, Σx, Σxxᵀ flattened) — each task emits a single
         4,161-double row regardless of row count (map-side combine
         for linear algebra);
      2. the driver reduces |partitions| partial rows (bounded,
         O(dim²) each), forms the population covariance, and
         eigensolves 64×64 — microseconds, data never leaves the
         cluster except as moments;
      3. the top-4 components broadcast back as a centred linear model
         and a second Arrow pass (model.extract_features) projects
         every vector.

    Eigenvalues/vectors are LAPACK-determined (not portable SQL), so
    per the registry's invariant-oracle pattern the key emits hash-
    checked in-plan flags with exact companions (n_vectors, dim):
      eig_sorted_ok      λ0 ≥ λ1 ≥ λ2 ≥ λ3 ≥ 0;
      ortho_ok           the 4×4 Gram of components is I ± 1e-9;
      var_matches_eig_ok the DISTRIBUTED population variance of each
                         projected coordinate equals its eigenvalue
                         within 1e-6·λ0 — the end-to-end identity
                         Var(Xv_k) = λ_k that only holds if moments,
                         covariance, eigensolve, AND projection are
                         all mutually consistent.
    """
    import pandas as pd
    from typing import Iterator

    emb = _emb(spark, sf_dir)
    dim = 64

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            ss += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    partials = (
        emb.select("embedding")
        .mapInPandas(moments, schema="n long, s array<double>, ss array<double>")
        .collect()  # bounded: one row per task, O(dim^2) doubles each
    )
    if not partials:
        raise ValueError("ml_pca_project: embeddings table is empty")
    n = sum(p["n"] for p in partials)
    s = np.sum([np.asarray(p["s"]) for p in partials], axis=0)
    ss = np.sum([np.asarray(p["ss"]).reshape(dim, dim) for p in partials], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigval)[::-1][:4]
    lam = eigval[order]
    comps = eigvec[:, order].T  # 4 × dim

    eig_sorted_ok = bool(np.all(np.diff(lam) <= 1e-12) and lam[-1] >= -1e-12)
    gram = comps @ comps.T
    ortho_ok = bool(np.max(np.abs(gram - np.eye(4))) < 1e-9)

    # (x - mean) @ comps.T as one linear model
    proj = extract_features(
        emb.select("embedding"), LinearModel(comps, bias=-(comps @ mean)), "embedding", "p"
    )
    # distributed population variance of each projected coordinate
    var_row = proj.agg(
        *[F.var_pop(F.col("p")[k]).alias(f"v{k}") for k in range(4)]
    ).collect()[0]
    tol = 1e-6 * max(float(lam[0]), 1e-12)
    var_matches = bool(
        all(abs(float(var_row[f"v{k}"]) - float(lam[k])) <= tol for k in range(4))
    )

    rows = spark.range(4).select(F.col("id").alias("k"))
    return rows.select(
        "k",
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(dim).cast("long").alias("dim"),
        F.lit(eig_sorted_ok).alias("eig_sorted_ok"),
        F.lit(ortho_ok).alias("ortho_ok"),
        F.lit(var_matches).alias("var_matches_eig_ok"),
    )


@query(
    "ml_retrieval_eval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
      FROM embeddings WHERE vec_id < 16
    ), scored AS (
      SELECT q.query_id, q.q_label, b.vec_id, b.label,
             ROUND(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]),
                                    CAST(q.q_emb AS DOUBLE[])), 6) AS cos
      FROM embeddings b, q WHERE b.vec_id <> q.query_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY cos DESC, b.vec_id) <= 10
    ), ranked AS (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rnk,
             (label = q_label) AS rel
      FROM scored
    )
    SELECT query_id,
           CAST(MIN(CASE WHEN rel THEN rnk END) AS BIGINT) AS first_rel_rank,
           COALESCE(CAST(1 AS DOUBLE) / MIN(CASE WHEN rel THEN rnk END), 0.0)
             AS reciprocal_rank,
           CAST(MAX(CASE WHEN rel AND rnk <= 1 THEN 1 ELSE 0 END) AS INT) AS hit1,
           CAST(MAX(CASE WHEN rel AND rnk <= 5 THEN 1 ELSE 0 END) AS INT) AS hit5,
           CAST(MAX(CASE WHEN rel THEN 1 ELSE 0 END) AS INT) AS hit10
    FROM ranked GROUP BY query_id
    """,
)
def ml_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation for the ANN stack — per-query MRR
    and hit@k against label-match relevance: each held-out query ranks
    the corpus by cosine, and the first same-label neighbor's rank
    yields reciprocal_rank plus hit@1/5/10 flags.  The eval every
    retrieve→rerank→diversify pipeline needs before shipping an index
    change.

    Engine-exactness: metrics are emitted PER QUERY — ranks are
    integers, reciprocal rank is one int division (deterministic
    double), hit flags are ints — so no cross-row float mean ever
    forms (a fleet-level MRR average would be summation-order
    dependent; consumers aggregate the per-query rows however they
    need).  Scale shape: the 16-query block broadcasts onto one corpus
    scan (vecops.knn_batch), the rank window and the per-query
    aggregate share one query_id partitioning, output is |queries|
    rows."""
    emb = load_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    ranked = knn_batch(emb, q, 10).withColumn("rel", F.col("label") == F.col("q_label"))
    first_rel = F.min(F.when(F.col("rel"), F.col("rnk")))
    return ranked.groupBy("query_id").agg(
        first_rel.cast("long").alias("first_rel_rank"),
        F.coalesce(F.lit(1).cast("double") / first_rel, F.lit(0.0)).alias(
            "reciprocal_rank"
        ),
        F.max(F.when(F.col("rel") & (F.col("rnk") <= 1), 1).otherwise(0))
        .cast("int")
        .alias("hit1"),
        F.max(F.when(F.col("rel") & (F.col("rnk") <= 5), 1).otherwise(0))
        .cast("int")
        .alias("hit5"),
        F.max(F.when(F.col("rel"), 1).otherwise(0)).cast("int").alias("hit10"),
    )


#: cumulative Poisson(1) CDF — shortest-round-trip literals, parsed to
#: identical doubles by both engines
_POIS1_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
]
_BOOT_REPS = 20


def _boot_oracle() -> str:
    case = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF)
    ) + " ELSE 5 END"
    return f"""
    WITH pur AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), rep AS (
      SELECT event_id, cents, UNNEST(RANGE(0, {_BOOT_REPS})) AS rep FROM pur
    ), wts AS (
      SELECT rep, cents,
             CAST(CAST(('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR) || ':' ||
                                       CAST(rep AS VARCHAR)), 1, 15))
                       AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
      FROM rep
    ), w AS (SELECT rep, cents, {case} AS w FROM wts)
    SELECT CAST(rep AS BIGINT) AS replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS boot_mean
    FROM w GROUP BY rep
    """


@query("ml_bootstrap_ci", oracle=_boot_oracle())
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed POISSON BOOTSTRAP — uncertainty for a corpus-scale
    metric without resampling-by-index (impossible at 100 TB: classic
    bootstrap needs n draws WITH replacement from n rows, a shuffle of
    the whole dataset per replicate).  The Poisson(1) trick: each
    row's multiplicity in replicate r is an independent Poisson(1)
    weight — for large n the replicate distribution is the bootstrap
    distribution — so ALL 20 replicates ride ONE scan with a 20-way
    in-row explode, partial-agged to 20 groups.  The spread of
    boot_mean across replicates IS the sampling distribution of the
    mean; consumers take its quantiles for the CI.

    Determinism (no RNG): the weight comes from inverting the exact
    Poisson(1) CDF (shortest-round-trip literals) at u =
    hash60(event_id, replicate)/2^60 — content-derived, identical
    across engines, reruns, and partitionings (``tables.md5_long``).
    Replicate sums are exact longs (weight ≤ 5 × cents);
    boot_mean is one integer-over-integer division — deterministic
    doubles, hash-exact."""
    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    rep = pur.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("rep"),
    )
    hk = md5_long(F.concat(F.col("event_id").cast("string"), F.lit(":"), F.col("rep").cast("string")), 15)
    u = hk.cast("double") / F.lit(float(1 << 60))
    w = F.lit(5)
    for k, t in reversed(list(enumerate(_POIS1_CDF))):
        w = F.when(u < F.lit(float(t)), F.lit(k)).otherwise(w)
    agg = (
        rep.select(F.col("rep"), F.col("cents"), w.alias("w"))
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            (
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / F.sum("w").cast("double")
            ).alias("boot_mean"),
        )
    )
    return agg.select(F.col("rep").cast("long").alias("replicate"), "n_eff", "boot_mean")


@query(
    "ml_ks_test",
    oracle="""
    WITH a AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
      WHERE event_type = 'purchase'
    ), b AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
      WHERE event_type = 'click'
    ), na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM a),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM b),
    ha AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM a GROUP BY 1),
    hb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
    pooled AS (
      SELECT COALESCE(ha.v, hb.v) AS v,
             COALESCE(ha.c, 0) AS ca, COALESCE(hb.c, 0) AS cb
      FROM ha FULL OUTER JOIN hb ON ha.v = hb.v
    ), cum AS (
      SELECT v,
             CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER w AS BIGINT) AS cumb
      FROM pooled WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ), scored AS (
      SELECT v, ABS(cuma * n2 - cumb * n1) AS num, n1, n2
      FROM cum, na, nb
    )
    SELECT n1, n2, v AS ks_x, CAST(num AS BIGINT) AS ks_num,
           CAST(num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d,
           CAST(num AS DECIMAL(38,0)) * CAST(num AS DECIMAL(38,0)) * 6250
             > CAST(11560 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2
             AS reject_h0
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY num DESC, v) = 1
    """,
)
def ml_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov test, distributed — does
    the purchase value distribution differ from the click one?  The
    drift/AB-test primitive for continuous metrics where mean-based
    monitors (profile_drift_psi's binned PSI) can miss shape changes.

    Everything stays in integer arithmetic to the very end:
    D = max|F1−F2| is found as the ARGMAX OF THE INTEGER NUMERATOR
    |c1·n2 − c2·n1| over the pooled per-value histogram (one cum-sum
    window over the bounded 2dp-grid domain — never over raw rows),
    and the α=0.05 decision D > 1.36·√((n1+n2)/(n1·n2)) is squared
    into the exact DECIMAL comparison num²·6250 > 11560·(n1+n2)·n1·n2
    (1.36² = 11560/6250) — no square root, so no cross-engine libm
    ulp can flip the verdict.  ks_d itself is one integer/integer
    division — a deterministic double."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")

    def hist(et: str, cname: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .select(cents.alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias(cname))
        )

    ha, hb = hist("purchase", "ca"), hist("click", "cb")
    na = ev.filter(F.col("event_type") == "purchase").agg(F.count("*").alias("n1"))
    nb = ev.filter(F.col("event_type") == "click").agg(F.count("*").alias("n2"))
    pooled = (
        ha.join(hb, "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pooled.select(
        "v", F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    scored = cum.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb)).select(
        "v",
        F.abs(F.col("cuma") * F.col("n2") - F.col("cumb") * F.col("n1")).alias("num"),
        "n1",
        "n2",
    )
    wpick = Window.orderBy(F.desc("num"), F.asc("v"))
    best = scored.withColumn("_rn", F.row_number().over(wpick)).filter(F.col("_rn") == 1)
    numd = F.col("num").cast("decimal(38,0)")
    return best.select(
        "n1",
        "n2",
        F.col("v").alias("ks_x"),
        F.col("num").alias("ks_num"),
        (F.col("num").cast("double") / (F.col("n1") * F.col("n2")).cast("double")).alias(
            "ks_d"
        ),
        (
            numd * numd * 6250
            > F.lit(11560).cast("decimal(38,0)")
            * (F.col("n1") + F.col("n2"))
            * F.col("n1")
            * F.col("n2")
        ).alias("reject_h0"),
    )


_PERM_REPS = 40


def _perm_oracle() -> str:
    return f"""
    WITH pooled AS (
      SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events WHERE event_type IN ('purchase', 'click')
    ), sizes AS (
      SELECT CAST(SUM(grp) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(grp) AS BIGINT) AS n2
      FROM pooled
    ), obs AS (
      SELECT ABS(CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS DOUBLE) / n1
               - CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS DOUBLE) / n2)
               AS obs_diff
      FROM pooled, sizes GROUP BY n1, n2
    ), rep AS (
      SELECT p.event_id, p.cents, UNNEST(RANGE(0, {_PERM_REPS})) AS rep,
             s.n1, s.n2
      FROM pooled p, sizes s
    ), flip AS (
      SELECT rep, cents,
             CASE WHEN CAST(CAST(('0x' || SUBSTR(MD5('perm:' ||
                          CAST(event_id AS VARCHAR) || ':' ||
                          CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                       / 1152921504606846976.0
                       < CAST(n1 AS DOUBLE) / (n1 + n2)
                  THEN 1 ELSE 0 END AS grp
      FROM rep
    ), rep_stats AS (
      SELECT rep,
             ABS(CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS DOUBLE)
                   / SUM(grp)
               - CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS DOUBLE)
                   / (COUNT(*) - SUM(grp))) AS perm_diff
      FROM flip GROUP BY rep
    )
    SELECT s.n1, s.n2, o.obs_diff,
           CAST(SUM(CASE WHEN r.perm_diff >= o.obs_diff THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ge,
           CAST(SUM(CASE WHEN r.perm_diff >= o.obs_diff THEN 1 ELSE 0 END)
                AS DOUBLE) / {_PERM_REPS} AS p_value
    FROM rep_stats r, obs o, sizes s
    GROUP BY s.n1, s.n2, o.obs_diff
    """


@query("ml_permutation_test", oracle=_perm_oracle())
def ml_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RANDOMIZATION TEST for a mean difference — the
    nonparametric sibling of ml_bootstrap_ci (uncertainty) and
    ml_ks_test (distribution shape): under H0 the purchase/click
    labels are exchangeable, so the observed |mean gap| is compared
    against {reps} hash-deterministic relabelings, and the p-value is
    the fraction of relabeled gaps at least as large.  Same one-scan
    shape as the bootstrap: every replicate rides a single in-row
    explode with partial agg — no per-replicate shuffle, no RNG
    (Bernoulli(n1/n) relabeling from the hash60 uniform; group sizes
    fluctuate binomially, the standard scalable randomization
    variant, documented rather than hidden).

    Exactness: group sums are exact longs; each mean is one int/int
    division; the ≥ comparison is between two such deterministic
    doubles; n_ge and p_value are integer-derived.  The whole
    hypothesis test hash-matches the oracle — including the verdict
    at 100×, where the gap's significance reflects 4M-row segments.
    """.replace("{reps}", str(_PERM_REPS))
    ev = load_table(spark, sf_dir, "events")
    pooled = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
    )
    sizes = pooled.agg(
        F.sum("grp").cast("long").alias("n1"),
        (F.count("*") - F.sum("grp")).cast("long").alias("n2"),
    )
    obs = (
        pooled.crossJoin(F.broadcast(sizes))
        .groupBy("n1", "n2")
        .agg(
            F.abs(
                F.sum(F.when(F.col("grp") == 1, F.col("cents"))).cast("double")
                / F.first("n1")
                - F.sum(F.when(F.col("grp") == 0, F.col("cents"))).cast("double")
                / F.first("n2")
            ).alias("obs_diff")
        )
    )
    rep = pooled.crossJoin(F.broadcast(sizes)).select(
        "event_id",
        "cents",
        "n1",
        "n2",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_REPS - 1))).alias("rep"),
    )
    hk = md5_long(
        F.concat(F.lit("perm:"), F.col("event_id").cast("string"), F.lit(":"), F.col("rep").cast("string")),
        15,
    )
    u = hk.cast("double") / F.lit(float(1 << 60))
    flip = rep.select(
        "rep",
        "cents",
        F.when(u < F.col("n1").cast("double") / (F.col("n1") + F.col("n2")), 1)
        .otherwise(0)
        .alias("grp"),
    )
    rep_stats = flip.groupBy("rep").agg(
        F.abs(
            F.sum(F.when(F.col("grp") == 1, F.col("cents"))).cast("double")
            / F.sum("grp")
            - F.sum(F.when(F.col("grp") == 0, F.col("cents"))).cast("double")
            / (F.count("*") - F.sum("grp"))
        ).alias("perm_diff")
    )
    n_ge = F.sum(
        F.when(F.col("perm_diff") >= F.col("obs_diff"), 1).otherwise(0)
    ).cast("long")
    return (
        rep_stats.crossJoin(F.broadcast(obs))
        .groupBy("n1", "n2", "obs_diff")
        .agg(
            n_ge.alias("n_ge"),
            (n_ge.cast("double") / F.lit(_PERM_REPS)).alias("p_value"),
        )
        .select("n1", "n2", "obs_diff", "n_ge", "p_value")
    )
