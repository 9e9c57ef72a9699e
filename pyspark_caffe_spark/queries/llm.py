"""LLM-data-pipeline operators: text analysis, dedup, multimodal, UDF
surface — SURVEY.md §2.11.

These are the training-data-pipeline operators a 100 TB corpus needs.
Design decisions that matter at scale:
  * Everything tokenization/shingling/hashing runs as built-in
    higher-order functions (split/transform/xxhash64) — JVM codegen,
    no Python.
  * Near-dup detection is MinHash-LSH banding: the only shuffle is
    groupBy(band_hash); NO pairwise cross-join ever touches the full
    corpus.
  * The fixtures contain zero natural duplicates (FIXTURES.md), so the
    dedup operators plant perturbed copies in-query; tests assert the
    planted pairs are recovered.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_caffe_spark import textops, vecops
from pyspark_caffe_spark.registry import query
from pyspark_caffe_spark.tables import lcg_hash, load_embeddings, load_table, md5_long, row_count
from pyspark_caffe_spark.textops import STOPWORDS

# Marker words per language for the (deliberately simple, deterministic)
# n-gram/marker language-ID heuristic. The fixture text is a shared
# vocabulary, so predictions skew 'en' — the operator demonstrates the
# plumbing; swap profiles for real corpus statistics in production.
LANG_MARKERS = {
    "en": ["the", "fast", "order", "key"],
    "zh": ["spark", "window"],
    "es": ["data", "column"],
    "de": ["merge", "batch"],
    "fr": ["join", "table"],
}


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_tokenize_tf",
    oracle="""
    SELECT term, COUNT(*) AS tf
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY tf DESC, term
    LIMIT 20
    """,
)
def text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenize → explode → global term frequencies, top-20.
    explode feeds a partial-aggregated count: shuffle carries one row
    per (partition, term), not per token."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(20)
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           CAST(MIN(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS min_words
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats; n_mismatch doubles as the n_chars ==
    length(text) sanity invariant (always 0 on the fixtures)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum(F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch"),
        F.min(F.size(F.split("text", " "))).cast("long").alias("min_words"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     w -> LIST_CONTAINS({STOPWORDS!r}, w))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS stopword_ratio,
           ROUND(CAST(n_chars - LEN(STRING_SPLIT(text, ' ')) + 1 AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_word_len,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 20
                 AND CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                       w -> LIST_CONTAINS({STOPWORDS!r}, w))) AS DOUBLE)
                     / LEN(STRING_SPLIT(text, ' ')) < 0.5
                THEN 1 ELSE 0 END AS passes
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (length / stopword-ratio / mean word
    length) + a pass/fail gate — the standard pre-training corpus
    filter, all in codegen'd higher-order functions."""
    docs = load_table(spark, sf_dir, "documents")
    q = textops.quality_columns("text", STOPWORDS)
    return docs.select(
        "doc_id",
        "lang",
        q["n_words"].alias("n_words"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(q["avg_word_len"], 6).alias("avg_word_len"),
        F.when((q["n_words"] >= 20) & (q["stopword_ratio"] < 0.5), 1)
        .otherwise(0)
        .alias("passes"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    return (
        f"LEN(LIST_FILTER({markers!r}, m -> LIST_CONTAINS(STRING_SPLIT(text, ' '), m)))"
    )


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql(LANG_MARKERS['en'])} AS s_en,
             {_lang_score_sql(LANG_MARKERS['zh'])} AS s_zh,
             {_lang_score_sql(LANG_MARKERS['es'])} AS s_es,
             {_lang_score_sql(LANG_MARKERS['de'])} AS s_de,
             {_lang_score_sql(LANG_MARKERS['fr'])} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE GREATEST(s_en, s_zh, s_es, s_de, s_fr)
             WHEN s_en THEN 'en' WHEN s_zh THEN 'zh' WHEN s_es THEN 'es'
             WHEN s_de THEN 'de' ELSE 'fr' END AS pred_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score each language profile
    by marker hits, argmax with a fixed precedence (en>zh>es>de>fr) so
    ties are deterministic. (The fixture text shares one vocabulary
    across langs — the operator demonstrates the scoring plumbing.)"""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scores = {
        lang: F.size(F.filter(F.array(*[F.lit(m) for m in ms]), lambda m: F.array_contains(words, m)))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["zh"] == best, "zh")
        .when(scores["es"] == best, "es")
        .when(scores["de"] == best, "de")
        .otherwise("fr")
    )
    return docs.select("doc_id", "lang", pred.alias("pred_lang"))


@query(
    "text_ngram_hash",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), s AS (
      SELECT doc_id,
             list_transform(range(0, GREATEST(len(w) - 5, 0) + 1),
                            i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS sh
      FROM t
    )
    SELECT doc_id,
           CAST(len(sh) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
           list_aggregate(sh, 'min') AS min_shingle,
           list_aggregate(sh, 'max') AS max_shingle
    FROM s
    """,
)
def text_ngram_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram shingling + 64-bit hashing — the dedup building block.
    shingles = sliding windows over the token array, built with
    sequence+transform+slice (no explode, no Python).

    Oracle-checkable formulation: the raw xxhash64 values are engine-
    specific, so the checked columns are the shingle STRINGS' count /
    lexicographic extremes, plus the distinct count computed THROUGH
    the 64-bit hashes (collision-free at any realistic corpus size, so
    it equals the oracle's distinct-shingle count — this keeps the
    hash path in the tested data flow)."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = textops.shingles_of("text", 5)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    return docs.select(
        "doc_id",
        F.size(shingles).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(hashes)).cast("long").alias("n_distinct"),
        F.array_min(shingles).alias("min_shingle"),
        F.array_max(shingles).alias("max_shingle"),
    )


# DuckDB twin of textops.normalized(): lower + trim + collapse
# whitespace runs (the Spark side normalizes runs, so the oracle must
# too — LOWER(TRIM(...)) alone diverges on multi-space texts).
_NORM_SQL = "LOWER(TRIM(REGEXP_REPLACE({col}, '\\s+', ' ', 'g')))"


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH({_NORM_SQL.format(col="text")}) AS BIGINT) AS norm_len,
           true AS fp_injective
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: the 128-bit ``textops.fingerprint`` of the
    case/whitespace-normalized text, the key every exact-dedup operator
    groups, partitions and joins on (never the full text).

    Invariant-literal oracle: the hash values are engine-specific, so
    the checked columns are the normalized-text length (cross-engine
    exact) plus an IN-PLAN injectivity flag — #distinct 128-bit keys
    == #distinct normalized texts over the whole corpus (the property
    that makes the 16-byte key a safe stand-in for the text; a single
    collision flips every row's boolean).

    The audit shuffles each text once, hash-partitioned on its key, so
    every copy of a key lands in one partition; there each key's
    distinct normalized texts are counted, and the sums need no second
    keyed shuffle. The corpus-level counts ride a broadcast 1-row
    crossJoin, so the per-doc scan stays map-only."""
    docs = load_table(spark, sf_dir, "documents")
    fp = textops.fingerprint("text")
    stats = (
        docs.select("text")
        .repartition(fp)
        .groupBy(fp)
        .agg(F.countDistinct(textops.normalized("text")).alias("_n"))
        .agg(F.count("*").alias("_dfp"), F.sum("_n").alias("_dnorm"))
    )
    return docs.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.length(textops.normalized("text")).cast("long").alias("norm_len"),
        (F.col("_dfp") == F.col("_dnorm")).alias("fp_injective"),
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def _augmented_docs(docs: DataFrame, n_dups: int = 50) -> DataFrame:
    """Union documents with perturbed copies of the first ``n_dups``
    docs (uppercased + padded ⇒ exact dups after normalization; ids
    offset by 1,000,000). The fixtures have zero natural duplicates."""
    dups = (
        docs.filter(F.col("doc_id") < n_dups)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(dups)


_AUG_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, UPPER(text) || '  ' AS text
      FROM documents WHERE doc_id < 50
"""


@query(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({_AUG_SQL})
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM aug
    GROUP BY {_NORM_SQL.format(col="text")}
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized text: group on its 128-bit fingerprint
    (``textops.exact_dedup``), keep the smallest id. The shuffle
    carries 16-byte keys, never the text; the oracle groups by the
    text itself, so it checks the substitution."""
    docs = _augmented_docs(load_table(spark, sf_dir, "documents"))
    return textops.exact_dedup(docs, "text", "doc_id").select("keep_id", "n_copies")


def _perturbed_docs(docs: DataFrame, n_dups: int = 50) -> DataFrame:
    """Near-duplicate plants: copies of the first ``n_dups`` docs with
    the last 2 words dropped (high-Jaccard neighbours, ids +1,000,000)."""
    words = F.split("text", " ")
    near = docs.filter(F.col("doc_id") < n_dups).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1))), " ").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(near)


_PERTURB_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 1)], ' ') AS text
      FROM documents WHERE doc_id < 50
"""

# Shared oracle fragment: 4-gram Jaccard pairs (J >= 0.5) over an `aug`
# CTE — used by dedup_ngram_jaccard AND dedup_clusters so the edge
# definition lives in exactly one place.
_JACCARD_EDGES_SQL = """
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 3, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+3], ' '))) AS sh
      FROM aug
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b,
             ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    )
"""



def _planted_recall(spark: SparkSession, docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The near-dup candidate keys' one invariant row: ``n_docs_aug``,
    the row count of the ACTUAL perturbed frame ``docs`` (not base + a
    literal 50, which would tautologically equal the oracle's
    expression: a dropped or duplicated plant breaks the cross-engine
    value), and ``recall_ok``, whether ``pairs`` holds ≥ 40 (80%) of
    the 50 pairs ``_perturbed_docs`` plants, (i, i + 1e6) — a broadcast
    semi-join of that truth table against the candidates."""
    planted = spark.range(50).select(F.col("id").alias("id_a"), (F.col("id") + 1000000).alias("id_b"))
    found = planted.join(pairs, ["id_a", "id_b"], "left_semi").agg(F.count("*").alias("_found"))
    return (
        docs.agg(F.count("*").alias("n_docs_aug"))
        .crossJoin(F.broadcast(found))
        .select("n_docs_aug", (F.col("_found") >= 40).alias("recall_ok"))
    )


@query(
    "dedup_minhash",
    oracle="""
    SELECT COUNT(*) + 50 AS n_docs_aug, true AS recall_ok FROM documents
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str, num_hashes: int = 32, bands: int = 8) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs — THE scale path.

    shingle(5-gram) → base xxhash64 per shingle (computed ONCE) → 32
    minhash slots derived by arithmetic mixing (universal hashing
    a_k·h + b_k over the 64-bit ring — long multiply/add per slot, no
    re-hashing of strings) → explode + ONE groupBy(doc_id) with 32 min
    aggregates → 8 bands of 4 → groupBy(band_idx, band_hash)
    bucket-gather (capped collect_list + in-bucket pair explode — ONE
    shuffle of 8 narrow rows/doc, no signature self-join). Only docs
    sharing a band signature are ever paired: cost is O(candidates),
    not O(n²).

    Invariant-literal oracle: the candidate pairs themselves are
    hash-seed-specific, so the emitted row is :func:`_planted_recall`'s
    augmented corpus size plus IN-PLAN recall flag (the full LSH
    pipeline still runs and feeds the flag). Oracle emits literal
    ``true``.

    (A first version computed xxhash64(shingle, k) per slot — the 32
    projection columns each re-evaluated the whole shingle-building
    expression, 79 s at sf0.1; this formulation runs in ~1 s.)
    """
    base = load_table(spark, sf_dir, "documents")
    docs = _perturbed_docs(base)
    pairs = textops.minhash_dedup_pairs(
        docs, "text", "doc_id", num_hashes=num_hashes, bands=bands, shingle_k=5
    )
    return _planted_recall(spark, docs, pairs)


def _simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash candidate pairs over a (doc_id, text) frame: 64-bit
    signature from sign-summed token-hash bits, blocked on 4×16-bit
    chunks (near-dups within hamming distance < #chunks share ≥1 exact
    chunk — the standard simhash blocking trick; no cross-join)."""
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).withColumn(
        "h", F.xxhash64("w")
    )
    # per-bit ±1 contributions; bit 63 read from the sign bit
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            if i < 63
            else F.when(F.col("h") < 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tokens.groupBy("doc_id").agg(*bit_sums)
    sim = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i if i < 63 else -(2**63))).otherwise(0)
                for i in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftrightunsigned("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_idx", "ck.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


@query(
    "dedup_simhash",
    oracle="""
    SELECT COUNT(*) + 50 AS n_docs_aug, true AS recall_ok FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (see _simhash_pairs for the
    signature/blocking design).

    Invariant-literal oracle: the 64-bit signatures are engine-
    specific, so the emitted row is :func:`_planted_recall`'s augmented
    corpus size plus IN-PLAN recall flag over the chunk-blocked
    candidates (the full simhash pipeline feeds the flag).  Oracle
    emits literal ``true``."""
    base = load_table(spark, sf_dir, "documents")
    docs = _perturbed_docs(base)
    return _planted_recall(spark, docs, _simhash_pairs(docs))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH aug AS ({_PERTURB_SQL}),
    {_JACCARD_EDGES_SQL}
    SELECT id_a, id_b, jaccard FROM edges
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (4-gram) Jaccard similarity join via shingle
    inverted index: explode distinct shingles, self-join on the shingle
    (the inverted-index pattern — pairs sharing no shingle never meet),
    count intersections, filter J ≥ 0.5. textops.jaccard_pairs carries
    a document-frequency cutoff (broadcast anti-join of the hot-shingle
    list) so one boilerplate shingle can't go quadratic at corpus
    scale; fixture max df is 6, far under the cap, so the oracle stays
    exact."""
    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    return textops.jaccard_pairs(docs, "text", "doc_id", shingle_k=4, threshold=0.5)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE aug AS ({_PERTURB_SQL}),
    {_JACCARD_EDGES_SQL},
    und AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM (SELECT DISTINCT doc_id FROM aug)
      UNION
      SELECT u.src AS node, r.lbl
      FROM reach r JOIN und u ON u.dst = r.node
    )
    SELECT CAST(MIN(lbl) AS BIGINT) AS cluster_id,
           COUNT(DISTINCT node) AS cluster_size
    FROM (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
    GROUP BY lbl
    HAVING COUNT(DISTINCT node) > 1
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from candidate pairs — connected components
    over the 4-gram Jaccard edges (the step every dedup pipeline needs
    after pairing: pairs → groups → keep one per group).

    The components come from ``scale_ops._cc_large_small_star``, the
    package's one connected-components algorithm (alternating
    large-star / small-star, O(log² n) rounds on any graph, where
    min-label propagation needs one shuffle per hop of the component
    diameter).  Its fixpoint is one star per component, rooted at the
    component's min doc id, so a cluster is a root and its star edges.
    Oracle: recursive CTE computing min reachable id per node. Emits
    (cluster_id=min doc_id, size>1).
    """
    # imported here, not at module level: importing scale_ops registers
    # its keys, and registration order is the driver's sweep order
    from pyspark_caffe_spark.queries.scale_ops import _cc_large_small_star

    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    edges = textops.jaccard_pairs(docs, "text", "doc_id", shingle_k=4, threshold=0.5)
    stars, _ = _cc_large_small_star(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    return stars.groupBy(F.col("u").cast("long").alias("cluster_id")).agg(
        (F.count("*") + 1).alias("cluster_size")
    )


@query(
    "dedup_latest",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-wins dedup (the CDC/SCD upsert-compaction shape):
    keep each (user, event_type)'s most recent event via a partitioned
    row_number — one shuffle on the key, per-group sort only. The
    backbone of compacting an append log into current-state at scale."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@query(
    "dedup_embed_cosine",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    )
    SELECT p.id_b AS dup_id, MIN(p.id_a) AS keep_id,
           MAX(p.cos) AS max_cos, COUNT(*) AS n_near, d.lang
    FROM pairs p JOIN documents d ON p.id_b = d.doc_id
    GROUP BY p.id_b, d.lang
    """,
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup over the documents corpus: each
    doc's embedding (doc_id = vec_id, 1:1 in the fixtures) is compared
    against all others; a doc is a near-dup when some LOWER-id doc sits
    within cosine >= 0.4 (the fixture tail — p99.9 of the pair-score
    distribution is ~0.38). Keep-first semantics: the duplicate's
    canonical survivor is its minimum near-neighbour id.

    Pair generation is vecops.threshold_pairs (never a crossJoin):
    bounded broadcast-matrix matmul for small corpora, distributed
    block-pair matmul above the row guard — no unbounded driver
    collect on any path. The dedup decision is one groupBy(dup_id) +
    a broadcast-joined lang lookup. At 100 TB the identical decision
    aggregation runs after sign-LSH bucketing (sim_lsh_bucketed)
    prunes the candidate pairs.
    """
    pairs = vecops.threshold_pairs(load_embeddings(spark, sf_dir), tau=0.4)
    decisions = pairs.groupBy(F.col("id_b").alias("dup_id")).agg(
        F.min("id_a").alias("keep_id"),
        F.max("cos").alias("max_cos"),
        F.count("*").alias("n_near"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return decisions.join(
        F.broadcast(docs), decisions.dup_id == docs.doc_id
    ).select("dup_id", "keep_id", "max_cos", "n_near", "lang")


@query(
    "text_containment",
    oracle=f"""
    WITH aug AS ({_PERTURB_SQL}),
    sh AS (
      SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 3, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+3], ' '))) AS sh
      FROM aug
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C = |A∩B| / min(|A|,|B|) ≥ 0.8 —
    the sub-document duplication pass symmetric Jaccard misses: a short
    doc quoted inside a long one has tiny Jaccard (union dominated by
    the long doc) but containment ≈ 1.  The planted truncated near-dups
    (last 2 words dropped) are exactly this shape, so the fixture has
    ground-truth positives.

    Same inverted-index scale shape as dedup_ngram_jaccard: one shingle
    explode, one shingle-keyed self-join, one (id_a, id_b) aggregate —
    O(candidates) with the max_df document-frequency skew guard, never
    O(n²).  Full value-hash oracle (same shingle space in DuckDB).  The
    oracle carries NO df cap, so parity relies on the fixture's shingle
    df staying under the 1024 guard — like dedup_ngram_jaccard the
    fixture max df is single-digit (asserted with ≥100× headroom in
    tests/test_properties.py::test_containment_df_headroom); a corpus
    that crosses the cap intentionally diverges from the uncapped SQL
    (the guard drops the hot shingle from BOTH sides)."""
    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    return textops.containment_pairs(docs, "text", "doc_id", shingle_k=4, threshold=0.8)


@query(
    "text_heavy_hitters",
    oracle="""
    WITH toks AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
    vocab AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY 1),
    vb AS (
      SELECT v.token, v.exact_cnt, d.depth,
             CAST(('0x' || SUBSTR(MD5(CAST(d.depth AS VARCHAR) || ':' || v.token), 1, 8))
                  AS BIGINT) % 1024 AS bucket
      FROM vocab v CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS depth) d
    ),
    sketch AS (SELECT depth, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS cnt
               FROM vb GROUP BY 1, 2),
    est AS (
      SELECT vb.token, MIN(vb.exact_cnt) AS exact_cnt, MIN(sk.cnt) AS est_cnt
      FROM vb JOIN sketch sk USING (depth, bucket) GROUP BY vb.token
    )
    SELECT token, exact_cnt, est_cnt, est_cnt >= exact_cnt AS overest_ok
    FROM est ORDER BY exact_cnt DESC, token ASC LIMIT 10
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str, depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    token frequencies estimated from a fixed d×w counter grid
    (d=4, w=1024 → 32 KB of state regardless of corpus size), emitted
    as the exact top-10 tokens with their CMS estimate and the
    one-sided-error invariant flag (CMS never underestimates).

    Hashes are md5-derived (first 8 hex chars → int, mod w) so DuckDB
    computes the IDENTICAL sketch — the whole pipeline is full
    value-hash cross-checked, not invariant-only.  The sketch is built
    from the token-count vocab weighted by count — cell-for-cell equal
    to streaming per-occurrence increments (sum is associative), but
    one md5 per DISTINCT token instead of per occurrence.  Scale shape:
    the vocab aggregate is Zipf-small, the sketch groupBy partial-
    aggregates to ≤ d·w cells per task, and the estimate join
    broadcasts the 4096-row sketch.  At 100 TB the sketch also merges
    across shards/days by cell-wise addition — the property that makes
    CMS the standard distributed heavy-hitter structure."""
    docs = load_table(spark, sf_dir, "documents")
    cell = F.concat(F.col("depth").cast("string"), F.lit(":"), F.col("token"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    vb = vocab.select(
        "token",
        "exact_cnt",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("depth"),
    ).withColumn("bucket", F.pmod(md5_long(cell, 8), F.lit(width)))
    sketch = vb.groupBy("depth", "bucket").agg(F.sum("exact_cnt").alias("cnt"))
    est = (
        vb.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("token")
        .agg(F.min("exact_cnt").alias("exact_cnt"), F.min("cnt").alias("est_cnt"))
    )
    return (
        est.select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("overest_ok"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
        .limit(10)
    )


@query(
    "pipeline_corpus",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    enriched AS (
      SELECT a.doc_id, a.text, d.lang,
             LEN(STRING_SPLIT(a.text, ' ')) AS n_words,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(a.text, ' '),
                   w -> LIST_CONTAINS({STOPWORDS!r}, w))) AS DOUBLE)
               / LEN(STRING_SPLIT(a.text, ' ')) AS stop_ratio
      FROM aug a JOIN documents d ON (a.doc_id % 1000000) = d.doc_id
    ),
    quality AS (
      SELECT * FROM enriched WHERE n_words >= 20 AND stop_ratio < 0.5
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
             MIN(n_words) AS n_words
      FROM quality GROUP BY {_NORM_SQL.format(col="text")}
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(n_words), 6) AS avg_words
    FROM deduped
    GROUP BY lang
    """,
)
def pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus pipeline composition: ingest (with planted
    duplicate pollution) → quality gate → exact dedup (keep min id) →
    per-language stats. One declarative plan: Catalyst fuses the
    quality filter into the scan side of the dedup shuffle, which is
    keyed on the 128-bit ``textops.fingerprint`` (16 bytes, never the
    text); nothing materializes between stages. The shape every
    pretraining data job takes at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    aug = _augmented_docs(docs)
    enriched = aug.join(
        docs.select(F.col("doc_id").alias("orig_id"), "lang"),
        aug.doc_id % 1000000 == F.col("orig_id"),
    )
    q = textops.quality_columns("text", STOPWORDS)
    quality = enriched.filter((q["n_words"] >= 20) & (q["stopword_ratio"] < 0.5))
    deduped = (
        quality.groupBy(textops.fingerprint("text").alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min(q["n_words"]).alias("n_words"),
        )
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_words"), 6).alias("avg_words"),
    )


# ---------------------------------------------------------------------------
# multimodal + UDF surface
# ---------------------------------------------------------------------------


@query(
    "multimodal_enrich",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(e.embedding[1] AS DOUBLE) AS emb_head, e.label
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_chars > 100 AND CAST(e.embedding[1] AS DOUBLE) > 0
    """,
)
def multimodal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ⋈ vector enrichment: join documents to embeddings, build a
    struct column {text meta, vector}, filter on BOTH a text predicate
    and a vector predicate, flatten for output."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).withColumn(
        "doc",
        F.struct("lang", "n_chars", F.col("embedding").cast("array<double>").alias("vec"), "label"),
    )
    return joined.filter(
        (F.col("doc.n_chars") > 100) & (F.element_at(F.col("doc.vec"), 1) > 0)
    ).select(
        "doc_id",
        F.col("doc.lang").alias("lang"),
        F.col("doc.n_chars").alias("n_chars"),
        F.element_at(F.col("doc.vec"), 1).alias("emb_head"),
        F.col("doc.label").alias("label"),
    )


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT)            AS n_bytes,
           CAST(LENGTH(text) % 64 + 1 AS BIGINT)   AS width,
           CAST((LENGTH(text) * 7) % 64 + 1 AS BIGINT) AS height
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: text → BINARY column ("image bytes"),
    decoded by a mapInPandas stage.

    The real decode (PIL/ffmpeg) is STUBBED — those libs aren't in this
    container — with a deterministic fake that derives (width, height)
    from the byte length. Everything Spark-side is real: binary column,
    Arrow batching of bytes into Python, mapInPandas schema contract.
    The oracle reproduces the fake's arithmetic from LENGTH(text)
    (fixture text is pure ASCII ⇒ bytes == chars, asserted in tests).
    """
    docs = load_table(spark, sf_dir, "documents")
    with_bytes = docs.select("doc_id", F.encode("text", "utf-8").alias("img_bytes"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb = pdf["img_bytes"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "width": nb % 64 + 1,
                    "height": (nb * 7) % 64 + 1,
                }
            )

    return with_bytes.mapInPandas(
        decode, schema="doc_id long, n_bytes long, width long, height long"
    )


@query(
    "multimodal_framesample",
    oracle="""
    SELECT doc_id, CAST(t.frame_idx AS BIGINT) AS frame_idx,
           CAST(LENGTH(text) // 10 AS BIGINT)                          AS frame_bytes,
           CAST(LENGTH(text) % 32 + 1 AS BIGINT)                       AS h_resized,
           CAST((LENGTH(text) // 10 * (t.frame_idx + 1)) % 255 AS BIGINT) AS fake_mean_px
    FROM documents, (SELECT UNNEST([0, 1, 2, 3]) AS frame_idx) t
    WHERE doc_id < 200
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video plumbing: binary "video" column → sample 4
    frames → resize → per-frame features, via mapInPandas.

    The ffmpeg/PIL decode is STUBBED (libs not in this container) with
    deterministic arithmetic over the byte payload; everything
    Spark-side is real: binary column, one-row→N-frame-rows fan-out
    inside the Python stage, Arrow batch shapes, pruned input. The
    oracle reproduces the stub arithmetic from LENGTH(text).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    with_bytes = docs.select("doc_id", F.encode("text", "utf-8").alias("video_bytes"))
    n_frames = 4

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "h_resized": [], "fake_mean_px": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["video_bytes"]):
                nb = len(payload)
                for i in range(n_frames):  # "frame-sample": 4 evenly spaced frames
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(nb // 10)       # stub: decode
                    out["h_resized"].append(nb % 32 + 1)      # stub: resize
                    out["fake_mean_px"].append((nb // 10 * (i + 1)) % 255)  # stub: feature
            yield pd.DataFrame(out)

    return with_bytes.mapInPandas(
        sample_frames,
        schema="doc_id long, frame_idx long, frame_bytes long, h_resized long, fake_mean_px long",
    )


@query(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id, CAST(t.win_idx AS BIGINT) AS win_idx,
           CAST(ASCII(SUBSTRING(text, t.win_idx * 100 + 1, 1)) AS BIGINT) AS first_sample,
           CAST(LIST_SUM(LIST_TRANSFORM(
                 STRING_SPLIT(SUBSTRING(text, t.win_idx * 100 + 1, 100), ''),
                 c -> ASCII(c))) AS BIGINT) AS energy,
           CAST(LIST_MAX(LIST_TRANSFORM(
                 STRING_SPLIT(SUBSTRING(text, t.win_idx * 100 + 1, 100), ''),
                 c -> ASCII(c))) AS BIGINT) AS peak
    FROM documents, (SELECT UNNEST([0, 1, 2]) AS win_idx) t
    WHERE n_chars >= 300
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing: binary "PCM" column → 3 fixed
    100-byte analysis windows → per-window features (first sample,
    energy = byte sum, peak = byte max) via mapInPandas.

    Unlike the image/video stubs this one actually READS the payload
    bytes — the windowed sum/max over the binary column is the exact
    shape of a real frame-energy / silence-detection pass, and the
    oracle recomputes it character-wise in SQL (fixture text is pure
    ASCII ⇒ bytes == chars). A real ffmpeg decode would replace the
    byte slicing only; schema, fan-out, and Arrow batch shapes stay.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 300)
    with_bytes = docs.select("doc_id", F.encode("text", "utf-8").alias("audio_bytes"))
    win = 100

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "win_idx": [], "first_sample": [], "energy": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["audio_bytes"]):
                for i in range(3):
                    chunk = payload[i * win : (i + 1) * win]
                    out["doc_id"].append(doc_id)
                    out["win_idx"].append(i)
                    out["first_sample"].append(chunk[0])
                    out["energy"].append(sum(chunk))
                    out["peak"].append(max(chunk))
            yield pd.DataFrame(out)

    return with_bytes.mapInPandas(
        features,
        schema="doc_id long, win_idx long, first_sample long, energy long, peak long",
    )


@query(
    "udf_surface",
    oracle="""
    SELECT doc_id, lang,
           SUBSTRING(text, 1, 1) AS first_char,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                 / STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 6) AS z
    FROM documents
    """,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three Python execution surfaces in one query: a scalar
    Python UDF (first_char — demo only, row-at-a-time is the slow
    path), an Arrow pandas UDF (n_tokens), and a grouped-map
    applyInPandas computing per-language z-scores (UDAF-style)."""
    docs = load_table(spark, sf_dir, "documents")

    first_char = F.udf(lambda s: s[:1] if s is not None else None, "string")

    @F.pandas_udf("long")
    def n_tokens(s: pd.Series) -> pd.Series:
        return s.str.split(" ").map(len)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        pdf = pdf.copy()
        if not np.isfinite(sd) or sd == 0:
            # 1-row group: STDDEV_SAMP is NULL in SQL — emit NULL, not NaN
            pdf["z"] = None
        else:
            # unrounded here; F.round below rounds HALF_UP like DuckDB
            # (pandas .round is banker's rounding — a latent mismatch)
            pdf["z"] = (pdf["n_chars"] - mu) / sd
        return pdf[["doc_id", "lang", "first_char", "n_tokens", "z"]]

    enriched = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        first_char("text").alias("first_char"),
        n_tokens("text").alias("n_tokens"),
    )
    return enriched.groupBy("lang").applyInPandas(
        zscore, schema="doc_id long, lang string, first_char string, n_tokens long, z double"
    ).withColumn("z", F.round("z", 6))


@query(
    "udf_udtf",
    oracle="""
    SELECT doc_id,
           UNNEST(STRING_SPLIT(text, ' ')) AS token,
           CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS BIGINT) AS pos
    FROM documents
    WHERE doc_id < 100
    """,
)
def udf_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function (Spark 4 @udtf): tokenize with
    positions, one input row → N output rows. Python-row-based, so the
    input is a pruned 2-column slice."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string, pos bigint")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield doc_id, tok, i + 1

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        "SELECT t.* FROM _udtf_docs, LATERAL tokenize_udtf(doc_id, text) t"
    )


_EMAIL_RE = r"[a-z0-9.]+@[a-z]+\.com"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com or +1-555-' ||
                       LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS scrubbed
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before tokenization. The fixture text contains no natural PII,
    so synthetic email/phone tokens are planted on every 7th doc
    in-query; both engines then count and redact them with the same
    RE2-compatible patterns. All codegen'd regexp ops — at 100 TB this
    is a pure map stage, no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, planted).otherwise(F.col("text")).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("scrubbed"),
    )


_STYLE_RE = r"<style[^>]*>[\s\S]*?</style>"
_TAG_RE = r"<[^>]+>"


@query(
    "text_html_strip",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || doc_id ||
             '</title><style>body{{margin:0;font:14px sans}}</style>' ||
             '</head><body><nav><a href="/">Home</a> | ' ||
             '<a href="/about">About</a></nav><h1>Doc ' || doc_id ||
             '</h1><p>' || REPLACE(text, ' table ', ' &lt;table&gt; ') ||
             '</p><footer>&copy; example &amp; co</footer></body></html>'
             AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id, html,
             TRIM(REGEXP_REPLACE(
               REPLACE(REPLACE(REPLACE(REPLACE(
                 REGEXP_REPLACE(REGEXP_REPLACE(html, '{_STYLE_RE}', ' ', 'g'),
                                '{_TAG_RE}', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&copy;', '(c)'), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS clean_text
      FROM pages
    )
    SELECT doc_id, clean_text,
           CAST(LENGTH(html) AS BIGINT) AS n_raw,
           CAST(LENGTH(clean_text) AS BIGINT) AS n_clean,
           CAST(LENGTH(clean_text) AS DOUBLE) / LENGTH(html) AS retained_ratio
    FROM stripped
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — the first pass over every web-crawl
    corpus: drop style/script blocks, strip tags, decode entities,
    collapse whitespace, and report the retained-text ratio (the
    standard boilerplate-density quality signal).  The fixture text is
    plain, so each doc is first wrapped in a deterministic page
    skeleton (title/nav/heading/footer + planted entities) in-query —
    the SAME construction as the oracle — then stripped.

    All chained codegen'd regexp/replace ops: at 100 TB this is a pure
    scan-side map stage — no shuffle, no Python, and the regexes are
    RE2-compatible (no backtracking blowup on adversarial pages).
    Entity decode order (&lt;/&gt;/&copy; before &amp;) matches the
    oracle so double-encoded sequences resolve identically."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>body{margin:0;font:14px sans}</style>"),
        F.lit('</head><body><nav><a href="/">Home</a> | '),
        F.lit('<a href="/about">About</a></nav><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.replace(F.col("text"), F.lit(" table "), F.lit(" &lt;table&gt; ")),
        F.lit("</p><footer>&copy; example &amp; co</footer></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    detagged = F.regexp_replace(
        F.regexp_replace("html", _STYLE_RE, " "), _TAG_RE, " "
    )
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(detagged, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&copy;"),
            F.lit("(c)"),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    stripped = pages.select(
        "doc_id",
        "html",
        F.trim(F.regexp_replace(decoded, r"\s+", " ")).alias("clean_text"),
    )
    return stripped.select(
        "doc_id",
        "clean_text",
        F.length("html").cast("long").alias("n_raw"),
        F.length("clean_text").cast("long").alias("n_clean"),
        (F.length("clean_text").cast("double") / F.length("html")).alias("retained_ratio"),
    )


@query(
    "multimodal_dedup",
    oracle="""
    WITH media AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM media GROUP BY md5(text)
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-media dedup by content hash: hash the payload bytes
    (md5 — stable across engines), group, keep the smallest id. The
    canonical first pass over a scraped image/audio corpus: byte-exact
    duplicates collapse BEFORE any expensive decode or embedding step,
    and the shuffle carries (16-byte hash, id) — never the payload:
    the group key is ``unhex(md5(payload))``, hexed (lower-case, as
    md5 prints) only after the aggregate, so neither the payload nor
    the 32-char hex string crosses the exchange (sf0.1: 107,109 →
    90,100 shuffle B against the hex key).  Payloads here are the
    documents' bytes standing in for media blobs (the package has no
    image-library dependency); 50 byte-identical copies are planted at
    ids +1,000,000. The Spark side hashes the BINARY column — exactly
    what it would do on real image bytes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    media = docs.unionByName(dups).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return (
        media.groupBy(F.unhex(F.md5("payload")).alias("_h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select(F.lower(F.hex("_h")).alias("content_hash"), "keep_id", "n_copies")
    )


@query(
    "pipeline_training_snapshot",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words
      FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 30
        AND CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  w -> LIST_CONTAINS({STOPWORDS!r}, w))) AS DOUBLE)
            / LEN(STRING_SPLIT(text, ' ')) < 0.4
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang, MIN(n_words) AS n_words
      FROM quality
      GROUP BY {_NORM_SQL.format(col="text")}
    )
    SELECT doc_id, lang, n_words
    FROM deduped
    WHERE ((doc_id * 1103515245 + 12345) % 2147483647) % 2 = 0
    """,
)
def pipeline_training_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data snapshot pipeline in ONE declarative plan:
    quality gate (min length + stopword-ratio cap) → exact dedup
    keep-first (normalized text) → deterministic hash-gated 50%
    subsample → per-doc manifest (id, lang, token count).

    Every stage is the scale-correct form: the quality gate is a pure
    codegen'd map (runs scan-side), dedup shuffles once on the 128-bit
    ``textops.fingerprint`` of the normalized text (16-byte keys, never
    the text), and the subsample is content-deterministic (same LCG
    gate as sample_seeded) so a snapshot is reproducible regardless of
    partitioning. Catalyst pipelines all of it with no driver
    round-trips."""
    docs = load_table(spark, sf_dir, "documents")
    q = textops.quality_columns("text", STOPWORDS)
    quality = docs.select("doc_id", "lang", "text", q["n_words"].alias("n_words")).filter(
        (q["n_words"] >= 30) & (q["stopword_ratio"] < 0.4)
    )
    deduped = quality.groupBy(textops.fingerprint("text").alias("_fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
    )
    h = lcg_hash(F.col("doc_id"))
    return deduped.filter(F.pmod(h, F.lit(2)) == 0).select("doc_id", "lang", "n_words")


@query(
    "dedup_candidate_verify",
    oracle=f"""
    WITH aug AS ({_PERTURB_SQL}),
    {_JACCARD_EDGES_SQL}
    SELECT id_a, id_b, jaccard FROM edges
    """,
)
def dedup_candidate_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup pipeline: MinHash-LSH candidate
    generation followed by exact-Jaccard VERIFICATION of only the
    candidate pairs — the candidate→verify composition every corpus
    dedup runs at scale (LSH alone over-merges on band collisions;
    exact Jaccard alone is quadratic; candidates∩verify is both sound
    and near-linear). The verify join touches |candidates| pairs, not
    Σ|block|²: shingle sets are re-derived per side and intersected
    with a broadcast-joined candidate list.

    Oracled against the exact 4-gram Jaccard edge set
    (_JACCARD_EDGES_SQL, shared with dedup_ngram_jaccard): sound by
    construction (every verified pair passes exact J ≥ 0.5), and
    complete on these fixtures because every true edge is a perturbed
    near-dup with J ≳ 0.9, where 16-band/2-row LSH miss probability is
    (1-J²)^16 < 1e-13 — verified equal at sf0.001 and sf0.01.
    tests/test_rows_only.py::test_dedup_candidate_verify asserts the
    full chain: soundness, verified == exact (completeness), AND the
    fixture-margin floor (min true-edge J ≥ 0.7) that keeps this
    oracle safe against fixture drift."""
    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    cands = textops.minhash_dedup_pairs(docs, "text", "doc_id", num_hashes=32, bands=16)
    sh = docs.select(
        "doc_id", F.array_distinct(textops.shingles_of("text", 4)).alias("shset")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shset").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shset").alias("sh_b"))
    verified = (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.select("id_a", "id_b", "jaccard")


@query(
    "pack_shards",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             doc_id % 8 AS pack_group
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, pack_group,
           CAST(pack_group * 100000
                + FLOOR((SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / 4096) AS BIGINT) AS shard_id
    FROM toks
    """,
)
def pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed token-budget training
    shards (budget 4096) by running cumulative token count — each doc
    lands in the shard where its group's token stream crosses a budget
    boundary. The cumsum runs WITHIN 8 deterministic pack groups
    (doc_id % 8), not globally: a global ORDER BY cumsum is a
    single-partition window (the classic scale trap); partitioned
    packing keeps every group's window local to one executor and
    shards are globally unique via group * 100000 + local. This is the
    sharding pass every pretraining pipeline runs between corpus and
    dataloader."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % 8).alias("pack_group"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        "pack_group",
        (
            F.col("pack_group") * 100000
            + F.floor((cum - F.col("n_tokens")) / 4096)
        ).cast("long").alias("shard_id"),
    )


@query(
    "corpus_mixture",
    oracle="""
    SELECT doc_id, lang, CAST(copy_idx AS BIGINT) AS copy_idx
    FROM documents, (SELECT UNNEST([0, 1]) AS copy_idx) t
    WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, lang, 0 AS copy_idx FROM documents
    WHERE lang <> 'en'
      AND (lang IN ('de', 'fr')
           OR ((doc_id * 1103515245 + 12345) % 2147483647) % 2 = 0)
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling — the weighted-corpus step of
    pretraining: en is UPsampled ×2 (explode over a copy-index
    sequence, so each replica is addressable downstream), de/fr kept
    whole, every other language DOWNsampled to ~50% by the
    deterministic LCG hash gate (content-stable, partitioning-proof —
    same guarantees as sample_seeded). Pure codegen'd map stage: the
    mixture of a 100 TB corpus is one scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    en = (
        docs.filter(F.col("lang") == "en")
        .select("doc_id", "lang", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("_ci"))
        .select("doc_id", "lang", F.col("_ci").cast("long").alias("copy_idx"))
    )
    h = lcg_hash(F.col("doc_id"))
    rest = (
        docs.filter(F.col("lang") != "en")
        .filter(F.col("lang").isin("de", "fr") | (F.pmod(h, F.lit(2)) == 0))
        .select("doc_id", "lang", F.lit(0).cast("long").alias("copy_idx"))
    )
    return en.unionByName(rest)


@query(
    "dedup_decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT {_NORM_SQL.format(col="text")} AS norm
      FROM documents WHERE doc_id < 50
    ), train AS (
      SELECT doc_id, lang,
             {_NORM_SQL.format(col="text")} AS norm
      FROM documents WHERE doc_id >= 50
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang,
             {_NORM_SQL.format(col="text")} AS norm
      FROM documents WHERE doc_id < 25
    )
    SELECT t.doc_id, t.lang FROM train t
    WHERE t.norm NOT IN (SELECT norm FROM bench)
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the anti-join every serious training
    set runs: remove training docs whose normalized text appears in
    the held-out benchmark set. Docs 0-49 stand in for the benchmark;
    the training side is docs 50+ plus 25 PLANTED contaminated copies
    of benchmark docs (ids +1,000,000) that the anti-join must drop.
    One left-anti join on the 128-bit ``textops.fingerprint`` of the
    normalized text; the benchmark side — tiny by definition —
    broadcasts as 16-byte keys, never texts, so decontamination costs
    one map-side scan of the corpus. (Real decontamination also
    n-gram-overlaps; that tier is dedup_ngram_jaccard against the
    benchmark.)"""
    docs = load_table(spark, sf_dir, "documents")
    fp = textops.fingerprint("text")
    bench = docs.filter(F.col("doc_id") < 50).select(fp.alias("fp"))
    train = (
        docs.filter(F.col("doc_id") >= 50)
        .select("doc_id", "lang", fp.alias("fp"))
        .unionByName(
            docs.filter(F.col("doc_id") < 25).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "lang", fp.alias("fp")
            )
        )
    )
    return train.join(
        F.broadcast(bench), train.fp == bench.fp, "left_anti"
    ).select("doc_id", "lang")


@query(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words,
             LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 2, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+2], ' ')) AS sh
      FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE) / LEN(words), 6)
             AS uniq_word_ratio,
           ROUND(1 - CAST(LEN(LIST_DISTINCT(sh)) AS DOUBLE) / LEN(sh), 6)
             AS dup_3gram_ratio,
           (1 - CAST(LEN(LIST_DISTINCT(sh)) AS DOUBLE) / LEN(sh)) > 0.5
             AS flagged
    FROM w
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the C4/Gopher quality-filter
    family): unique-word ratio and duplicate-3-gram ratio per document,
    flagging docs whose text is >50% repeated 3-grams.  Entirely
    array-native higher-order functions on each row — no explode, no
    shuffle, no Python: the filter runs at scan speed and composes with
    any downstream pipeline stage."""
    docs = load_table(spark, sf_dir, "documents")
    words = textops.words_of("text")
    sh = textops.shingles_of("text", 3)
    uniq = F.size(F.array_distinct(words)) / F.size(words)
    dup3 = 1 - F.size(F.array_distinct(sh)) / F.size(sh)
    return docs.select(
        "doc_id",
        F.round(uniq, 6).alias("uniq_word_ratio"),
        F.round(dup3, 6).alias("dup_3gram_ratio"),
        (dup3 > 0.5).alias("flagged"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS n_t FROM toks GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, token, tfidf, rk FROM (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.n_t * LN(CAST(n.n_docs AS DOUBLE) / dfreq), 6) AS tfidf,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.n_t * LN(CAST(n.n_docs AS DOUBLE) / dfreq), 6) DESC,
                        tf.token) AS INTEGER) AS rk
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    ) WHERE rk <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF with top-5 terms per document: explode tokens →
    per-(doc, token) TF → document-frequency table → idf join → rank.

    Shuffle shape at 100 TB: the token explode feeds ONE groupBy on
    (doc_id, token) (partial-aggregated map-side), the df table is a
    second small aggregate keyed by token, and the idf join is keyed on
    token — vocabulary-sized, so AQE broadcasts it for natural-language
    vocabularies (Zipf: vocab ≪ corpus).  The top-k window partitions
    by doc_id on the already-(doc,token)-shuffled frame.  Ordering on
    the ROUNDED score + token tiebreak keeps ranks cross-engine
    stable.  n_docs is a literal summed from the parquet footers
    (``tables.row_count``): no count job and no broadcast of a 1-row
    aggregate, so the plan has no CROSS JOIN.

    ONE corpus-sized exchange total (round 19; rounds ≤17 had three,
    round 18 two): the (doc_id, text) projection is repartitioned by
    ``doc_id`` BEFORE the explode, so

    * the (doc_id, token) aggregation needs no exchange of its own —
      hash(doc_id) partitioning already clusters every (doc, token)
      group (HashPartitioning satisfies ClusteredDistribution when its
      keys are a subset of the grouping keys, guide §2.4);
    * the final top-5 window partitions by ``doc_id`` on data that is
      ALREADY doc_id-partitioned — the 25M-row scored exchange that
      round 18's shape still paid is gone outright;
    * the dfq branch reuses the SAME docs exchange (ReusedExchange in
      the final adaptive plan — the subtree below the exchange is the
      bare scan+projection, identical in both branches, so round 18's
      ``sum(least(1, n_t))`` pruning workaround is no longer needed
      and dfq is a plain count again);
    * the exchange carries (doc_id, bag) — strictly fewer bytes than
      the exploded token rows it replaces (each token duplicates
      doc_id and tokenization overhead), and AQE still coalesces it
      (no pinned partition count).  ``bag`` is
      ``textops.word_bag(text)``, the text's tokens sorted: everything
      above the exchange needs only each token's count per document,
      never the word order, and the sorted repeats compress as zstd
      runs.  Key shuffle bytes, text → bag (``tools/dryrun_sweep.py``,
      2 cores, zstd): sf0.01 40,871 → 26,622 B, sf0.1 388,607 →
      256,416 B, 3x sf0.1 1,318,486 → 879,116 B; same rows, same 5
      jobs.  The price is a split, a sort and a join per document
      on the map side: warm, the key's executor CPU stays within
      run-to-run noise, but perfbench's traced LLM pass reads about
      0.2 s more.  The sorted ``array<string>`` itself ships more than
      the text (471,229 B at sf0.1); run-length (token, count) arrays
      built with ``F.aggregate`` ship about 12% more than the bag and
      ran the key 2–3x slower.

    The idf join broadcasts ``dfq`` by explicit hint (guide §3.1):
    dfq is vocabulary-sized — Zipf vocab ≪ corpus, the same property
    the 100x audit relied on when AQE chose the broadcast — and the
    hint keeps the initial plan from even planning a token-keyed
    exchange of tf (whose map side still ran under the AQE-converted
    shape).  The explode + per-branch aggregation above the reused
    exchange runs once per branch; that CPU is cheaper than the
    second corpus shuffle it replaces at every measured scale.
    Measured (5-rep medians, noop sink): 100x 5.03 → 3.56 s (1.4x),
    sf0.1 0.81 → 0.76 s, zero row diffs at both scales."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(row_count(spark, sf_dir, "documents"))
    by_doc = docs.select("doc_id", textops.word_bag("text").alias("bag")).repartition("doc_id")
    toks = by_doc.select("doc_id", F.explode(textops.words_of("bag")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("n_t"))
    dfq = tf.groupBy("token").agg(F.count("*").alias("dfreq"))
    scored = (
        tf.join(F.broadcast(dfq), "token")
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("n_t") * F.log(F.lit(n_docs) / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "token", "tfidf", "rk")
    )


@query(
    "text_chunk",
    oracle="""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
    c AS (
      SELECT doc_id, words,
             UNNEST(RANGE(0, CAST(CEIL(GREATEST(LEN(words) - 32, 0) / 24.0)
                                  AS BIGINT) + 1)) AS chunk_id
      FROM w
    )
    SELECT doc_id, chunk_id,
           ARRAY_TO_STRING(words[chunk_id*24 + 1 : chunk_id*24 + 32], ' ')
             AS chunk_text,
           LEN(words[chunk_id*24 + 1 : chunk_id*24 + 32]) AS n_tokens
    FROM c
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (context-window preparation
    for embedding/LLM ingestion): 32-token chunks, stride 24 (8-token
    overlap).  Chunk starts come from an array-native ``sequence`` —
    the explode happens exactly once, after the per-chunk strings are
    built, so the only row amplification is the output itself.  A pure
    map stage: no shuffle, chunking parallelism = scan parallelism."""
    docs = load_table(spark, sf_dir, "documents")
    words = textops.words_of("text")
    n_chunks = F.ceil(F.greatest(F.size(words) - 32, F.lit(0)) / 24.0) + 1
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("long") - 1),
        lambda i: F.array_join(F.slice(words, (i * 24 + 1).cast("int"), 32), " "),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.size(F.split("chunk_text", " ")).cast("long").alias("n_tokens"),
    )


@query(
    "dedup_source_priority",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text, 'src99' AS source
      FROM documents WHERE doc_id < 40
    ),
    ranked AS (
      SELECT doc_id, source,
             {_NORM_SQL.format(col="text")} AS norm,
             CAST(SUBSTR(source, 4) AS INTEGER) AS prio
      FROM aug
    )
    SELECT norm_key, keep_id, keep_source, n_copies FROM (
      SELECT MD5(norm) AS norm_key, doc_id AS keep_id, source AS keep_source,
             COUNT(*) OVER (PARTITION BY norm) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY norm
                                ORDER BY CAST(SUBSTR(source, 4) AS INTEGER),
                                         doc_id) AS rk
      FROM ranked
    ) WHERE rk = 1 AND n_copies > 1
    """,
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source canonical selection: when the same (normalized)
    text arrives from several sources, keep the copy from the
    highest-priority source (lowest source number; doc_id tiebreak) —
    the curated-beats-crawl rule of corpus assembly.  Plants 40
    low-priority 'src99' duplicates (fixtures have none).  One shuffle,
    partitioned on the 128-bit ``textops.fingerprint`` of the
    normalized text.  The emitted key is MD5 (available in both
    engines) so the oracle can hash-match values; it is projected
    below the windows as the 16-byte ``unhex(md5(norm))``, so the text
    never crosses the shuffle, and hexed only after the ``rk = 1``
    filter (sf0.1: 222,011 → 190,808 shuffle B against shipping the
    32-char hex string)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text", "source").unionByName(
        docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            "text",
            F.lit("src99").alias("source"),
        )
    )
    keyed = aug.select(
        textops.fingerprint("text").alias("_fp"),
        F.unhex(F.md5(textops.normalized("text"))).alias("_key"),
        F.col("doc_id").alias("keep_id"),
        F.col("source").alias("keep_source"),
        F.substring("source", 4, 10).cast("int").alias("_prio"),
    )
    w = Window.partitionBy("_fp").orderBy(F.col("_prio").asc(), F.col("keep_id").asc())
    cnt = Window.partitionBy("_fp")
    return (
        keyed.select(
            "_key",
            "keep_id",
            "keep_source",
            F.count("*").over(cnt).alias("n_copies"),
            F.row_number().over(w).alias("rk"),
        )
        .filter((F.col("rk") == 1) & (F.col("n_copies") > 1))
        .select(F.lower(F.hex("_key")).alias("norm_key"), "keep_id", "keep_source", "n_copies")
    )


@query(
    "text_common_spans",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 15, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+15], ' '))) AS span
      FROM documents
    )
    SELECT span, COUNT(*) AS n_docs
    FROM sp
    GROUP BY span
    HAVING COUNT(*) >= 3
    ORDER BY n_docs DESC, span
    LIMIT 50
    """,
)
def text_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span mining (the building block of
    substring-level training-data dedup, cf. "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): every
    16-token span, deduped within doc, grouped across the corpus;
    spans appearing in ≥3 documents are boilerplate/contamination
    candidates, top-50 by document frequency.

    Spans stay array-native until ONE explode; the groupBy is
    partial-aggregated.  The group key is the span string itself; at
    100 TB it must be the span's 128-bit ``textops.fingerprint``
    (hash-grouped, then one exemplar span joined back), as dedup_exact
    groups — a 64-bit ``xxhash64`` collides at 10¹¹ spans.
    Fingerprints do not compress while the fixture's repeated spans
    do, so that key change needs its own shuffle-byte measurement."""
    docs = load_table(spark, sf_dir, "documents")
    spans = F.array_distinct(textops.shingles_of("text", 16))
    exploded = docs.select("doc_id", F.explode(spans).alias("span"))
    return (
        exploded.groupBy("span")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), F.asc("span"))
        .limit(50)
    )


def _bigrams_of(text_col: str):
    """Adjacent-word bigram array for a text column: zip the token
    array with its shift, then DROP the null-padded tail pair — a
    single-token doc slices an empty second array and ``zip_with``
    pads it to one (w1, NULL) struct, which a DuckDB oracle built on
    ``RANGE(1, GREATEST(LEN(ws), 1))`` never emits.  Left unfiltered,
    every doc sharing that w1 gets an inflated unigram denominator —
    a latent cross-engine divergence even though current fixtures
    (min 10 tokens) never fire it."""
    words = textops.words_of(text_col)
    return F.filter(
        F.zip_with(
            F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(1))),
            F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda b: b["w2"].isNotNull(),
    )


@query(
    "corpus_ngram_lm",
    oracle="""
    WITH big AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
           LATERAL UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) AS t(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(n12) AS n1 FROM c12 GROUP BY w1)
    SELECT w1, w2, n12,
           ROUND(CAST(n12 AS DOUBLE) / n1, 6) AS p_cond
    FROM c12 JOIN c1 USING (w1)
    WHERE n12 >= 25
    """,
)
def corpus_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM statistics: corpus bigram counts and the
    conditional probability P(w2|w1) = c(w1,w2)/c(w1·) for every pair
    seen ≥25 times — the table behind n-gram perplexity scoring and
    classic LM-based quality filters.

    Bigrams are built array-native (zip of the token array with its
    shift) and exploded ONCE; c(w1·) comes from re-aggregating the
    bigram counts (vocabulary-sized, NOT a second corpus pass), and
    the normalizing join is on w1 — vocabulary-sized, AQE-broadcast.
    At 100 TB the n12 table is the only big intermediate and it is
    partial-aggregated map-side."""
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(F.explode(_bigrams_of("text")).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    c12 = exploded.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return (
        c12.join(c1, "w1")
        .filter(F.col("n12") >= 25)
        .select(
            "w1", "w2", "n12",
            F.round(F.col("n12") / F.col("n1"), 6).alias("p_cond"),
        )
    )


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, MD5('shuf-epoch-42:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    )
    SELECT SUBSTR(hx, 1, 1) AS shard_id,
           ROW_NUMBER() OVER (PARTITION BY SUBSTR(hx, 1, 1)
                              ORDER BY hx, doc_id) AS position,
           doc_id
    FROM h
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded GLOBAL SHUFFLE + shard assignment — the
    epoch-shuffle primitive every training run needs: order the corpus
    pseudo-randomly (md5 of a seed-prefixed id — cross-engine
    identical, unlike xxhash64), route to 16 shards by the first hash
    nibble, and number positions within each shard.  Changing the seed
    string is a fresh epoch permutation.

    100 TB shape: this is how a trillion-doc corpus shuffles WITHOUT a
    global sort — one hash partition by shard + a per-shard sort
    (row_number window over the shard partition); shards are balanced
    by md5 uniformity, so no reducer hot-spots, and a trainer can read
    shards independently in hash order."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("shuf-epoch-42:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard_id").orderBy("hx", "doc_id")
    return (
        docs.select("doc_id", h.alias("hx"))
        .withColumn("shard_id", F.substring("hx", 1, 1))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("shard_id", "position", "doc_id")
    )


@query(
    "corpus_token_budget",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             MD5('budget-7:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    r AS (
      SELECT *,
             SUM(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY hx, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM h
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM r WHERE cum_tokens <= 2000
    """,
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling per language — the data-mixture primitive
    that caps each language at a FIXED TOKEN budget (here 2000) rather
    than a row fraction: docs are taken in deterministic seeded-hash
    order (an unbiased sample, reproducible across engines via md5)
    until the language's running token sum crosses the budget.

    One shuffle on lang + a running-sum window — at 100 TB the window
    partitions are per-language (bounded fan-in), never a global sort;
    the same pattern caps per-source or per-domain budgets.  Distinct
    from corpus_mixture (epoch copy-counts) and sample_stratified
    (row fractions): budgets are in TOKENS, the unit training actually
    pays in."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("budget-7:"), F.col("doc_id").cast("string")))
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        h.alias("hx"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hx", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 2000)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


@query(
    "text_lm_score",
    oracle="""
    WITH bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
           LATERAL UNNEST(RANGE(1, GREATEST(LEN(ws), 1))) AS t(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(n12) AS n1 FROM c12 GROUP BY w1),
    p AS (
      SELECT w1, w2, CAST(n12 AS DOUBLE) / n1 AS p
      FROM c12 JOIN c1 USING (w1)
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(LOG2(p)), 6) AS avg_log2p
    FROM bg JOIN p USING (w1, w2)
    GROUP BY doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model quality scoring — the KenLM-style
    pretraining filter: score every document by its average bigram
    conditional log-probability under the CORPUS'S OWN bigram model
    (docs full of corpus-typical word transitions score high; line
    noise, boilerplate-free rarities and shuffled text score low —
    the filter threshold is then a percentile of this column).

    Plan: one explode of the token stream to (doc_id, w1, w2); the
    model (bigram conditional probs) aggregates from the SAME stream;
    scoring joins the stream back to the model on (w1, w2).  At
    100 TB the model table is |distinct bigrams| rows — orders of
    magnitude under the stream — and at real vocab sizes it stays
    shuffle-joined on (w1, w2) (both sides partial-aggregated first);
    a trimmed top-K model would broadcast.  Self-scoring means every
    doc bigram exists in the model (count ≥ 1) — no smoothing branch
    in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select("doc_id", F.explode(_bigrams_of("text")).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c12.groupBy("w1").agg(F.sum("n12").alias("n1"))
    p = c12.join(c1, "w1").select(
        "w1", "w2", (F.col("n12").cast("double") / F.col("n1")).alias("p")
    )
    return (
        bg.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log2("p")), 6).alias("avg_log2p"),
        )
    )


@query(
    "dedup_decontaminate_ngram",
    oracle="""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 50
    ),
    train AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 50
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 1)], ' ') AS text
      FROM documents WHERE doc_id < 25
    ),
    bsh AS (
      SELECT DISTINCT UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 7, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+7], ' '))) AS sh
      FROM bench
    ),
    tsh AS (
      SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text,' ')) - 7, 1) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text,' ')[i:i+7], ' '))) AS sh
      FROM train
    )
    SELECT t.doc_id, COUNT(*) AS n_overlap_8grams
    FROM tsh t JOIN bsh b USING (sh)
    GROUP BY t.doc_id
    HAVING COUNT(*) >= 3
    """,
)
def dedup_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM benchmark decontamination — the tier exact-match
    decontamination (dedup_decontaminate) cannot reach: a train doc is
    contaminated if it shares ≥ 3 distinct 8-gram shingles with ANY
    benchmark doc, which catches lightly-EDITED benchmark copies that
    hash differently.  Planted here: near-copies of benchmark docs
    0-24 with the last two words dropped (ids +1,000,000) — invisible
    to the exact fingerprint anti-join, caught by 8-gram overlap;
    natural word-salad train docs share almost no 8-grams and stay
    clean.

    100 TB shape: the benchmark shingle set is tiny BY DEFINITION
    (benchmarks are small) → broadcast onto the train shingle stream,
    so decontamination is one map-side semi-probe + one groupBy(doc)
    count — the train corpus is never shuffled by shingle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 50)
    train = docs.filter(F.col("doc_id") >= 50).select("doc_id", "text").unionByName(
        _perturbed_docs(docs.filter(F.col("doc_id") < 25), n_dups=25).filter(
            F.col("doc_id") >= 1000000
        )
    )
    sh8 = lambda frame: frame.select(
        "doc_id", F.explode(F.array_distinct(textops.shingles_of("text", 8))).alias("sh")
    )
    bench_sh = sh8(bench).select("sh").distinct()
    return (
        sh8(train)
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_8grams"))
        .filter(F.col("n_overlap_8grams") >= 3)
    )


@query(
    "text_quality_classifier",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS ws,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(list_sum(list_transform(ws,
                w -> (LENGTH(w) * 37) % 21 - 10)) AS BIGINT) AS score_int,
           ROUND(1.0 / (1.0 + EXP(-(CAST(list_sum(list_transform(ws,
                w -> (LENGTH(w) * 37) % 21 - 10)) AS DOUBLE)
                / (10.0 * n_tokens)))), 6) AS prob,
           CAST(list_sum(list_transform(ws,
                w -> (LENGTH(w) * 37) % 21 - 10)) AS BIGINT) > 0 AS keep
    FROM t
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style LINEAR quality classifier applied corpus-wide —
    the shape of every learned keep/drop filter in a training-data
    pipeline: per-token weight lookup → summed score → sigmoid → keep
    flag.

    The weight function here is a deterministic surrogate
    (w(token) = (len·37 mod 21) − 10 ∈ [−10, 10]) standing in for
    trained weights, which keeps the key fully hash-oracled: integer
    weights sum EXACTLY in any order, and the sigmoid is applied to
    bit-identical integers on both engines.  With real weights the
    only change is the lookup — a broadcast vocab→weight MapType
    literal (or `F.xxhash64(token) % dim` into a broadcast weight
    array for the hashing trick); the plan shape is identical.

    100 TB shape: ONE pass, zero shuffles, zero Python — the token
    array aggregate runs inside whole-stage codegen at scan speed, so
    quality-filtering 100 TB costs exactly one read (plan-locked:
    no Exchange, no Batch/ArrowEvalPython)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = textops.words_of("text")
    w_of = lambda t: F.pmod(F.length(t) * 37, F.lit(21)) - 10
    score = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, t: acc + w_of(t).cast("long")
    )
    n_tokens = F.size(ws).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        score.alias("score_int"),
        F.round(
            1.0 / (1.0 + F.exp(-(score.cast("double") / (10.0 * n_tokens)))), 6
        ).alias("prob"),
        (score > 0).alias("keep"),
    )


@query(
    "corpus_split_leakproof",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang, MD5(TRIM(LOWER(text))) AS fp FROM documents
    ), u AS (
      SELECT doc_id, lang, fp,
             (ASCII(SUBSTR(fp,1,1)) - CASE WHEN ASCII(SUBSTR(fp,1,1)) >= 97 THEN 87 ELSE 48 END) * 4096
           + (ASCII(SUBSTR(fp,2,1)) - CASE WHEN ASCII(SUBSTR(fp,2,1)) >= 97 THEN 87 ELSE 48 END) * 256
           + (ASCII(SUBSTR(fp,3,1)) - CASE WHEN ASCII(SUBSTR(fp,3,1)) >= 97 THEN 87 ELSE 48 END) * 16
           + (ASCII(SUBSTR(fp,4,1)) - CASE WHEN ASCII(SUBSTR(fp,4,1)) >= 97 THEN 87 ELSE 48 END) AS u16
      FROM f
    ), s AS (
      SELECT *, CASE WHEN u16 < 52429 THEN 'train'
                     WHEN u16 < 58982 THEN 'val'
                     ELSE 'test' END AS split
      FROM u
    ), per AS (
      SELECT split, COUNT(*) AS n_docs,
             COUNT(DISTINCT fp) AS n_fingerprints
      FROM s GROUP BY split
    ), leak AS (
      SELECT COUNT(*) = 0 AS leak_free FROM (
        SELECT fp FROM s GROUP BY fp HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split, n_docs, n_fingerprints, leak_free
    FROM per CROSS JOIN leak
    """,
)
def corpus_split_leakproof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test split (80/10/10): the split gate
    hashes the CONTENT fingerprint (md5 of normalized text), not the
    doc_id — so exact duplicates land in the SAME split by
    construction and a near-miss eval set cannot be contaminated by a
    re-crawled copy of a training document (the classic doc-id-split
    leak).  The gate reads the first 4 hex digits of the fingerprint
    as a uniform 16-bit integer (``tables.md5_long``; the oracle spells
    the same number with SUBSTR/ASCII arithmetic), so the assignment
    (not just the counts) is cross-engine exact.

    Output: per-split doc and distinct-fingerprint counts plus a
    computed ``leak_free`` flag (no fingerprint spans two splits) —
    the design claim is verified in-plan, not assumed.  Scale shape:
    one md5 projection, one groupBy(split) partial agg, one
    groupBy(fp) for the leak proof — shuffle keys are 8-byte-class,
    never the texts.  At 100 TB the split column is written
    partitionBy so downstream readers partition-prune their split."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.lower(F.col("text")))
    fp = F.md5(norm)
    s = (
        docs.select("doc_id", fp.alias("fp"), md5_long(norm, 4).alias("u16"))
        .withColumn(
            "split",
            F.when(F.col("u16") < 52429, "train")
            .when(F.col("u16") < 58982, "val")
            .otherwise("test"),
        )
    )
    per = s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_fingerprints"),
    )
    leak = (
        s.groupBy("fp")
        .agg(F.countDistinct("split").alias("_ns"))
        .agg((F.count(F.when(F.col("_ns") > 1, 1)) == 0).alias("leak_free"))
    )
    return per.crossJoin(F.broadcast(leak)).select(
        "split", "n_docs", "n_fingerprints", "leak_free"
    )


@query(
    "corpus_importance_sample",
    oracle="""
    WITH w AS (
      SELECT *,
             LEAST(CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500
                             WHEN 'fr' THEN 500 WHEN 'es' THEN 500
                             ELSE 250 END
                   + CASE WHEN n_chars >= 300 THEN 150 ELSE 0 END,
                   950) AS p_permille,
             ((((((doc_id % 2147483647) + 2147483647) % 2147483647)
                * 1103515245 + 54321) % 2147483647) % 1000) AS u
      FROM documents
    )
    SELECT doc_id, lang, source, n_chars, p_permille,
           ROUND(1000.0 / p_permille, 6) AS ips_weight
    FROM w
    WHERE u < p_permille
    """,
)
def corpus_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling of a corpus — down-weight over-represented
    languages and short documents while emitting the inverse-
    propensity weight each kept doc must carry so downstream token
    counts stay unbiased (the data-mixing primitive behind
    quality/diversity reweighting).

    Acceptance is HASH-GATED on the doc id (same LCG idiom as
    sample_seeded), not drawn from ``df.sample``: the kept set is a
    pure function of content, so it is identical across engines,
    reruns, AQE repartitioning, and cluster sizes — reproducibility a
    per-partition RNG cannot give at 100 TB.  The per-doc keep
    probability is integer permille and the gate is integer
    arithmetic, so the sample is exactly oracle-checkable; the IPS
    weight divides two bit-identical numbers.

    100 TB shape: scan-side filter, zero shuffles — sampling a corpus
    costs one read regardless of scale."""
    docs = load_table(spark, sf_dir, "documents")
    p = F.least(
        F.when(F.col("lang") == "en", 800)
        .when(F.col("lang").isin("de", "fr", "es"), 500)
        .otherwise(250)
        + F.when(F.col("n_chars") >= 300, 150).otherwise(0),
        F.lit(950),
    )
    # Sign caveat: Spark's pmod returns a non-negative residue while SQL
    # `%` keeps the dividend's sign, so for NEGATIVE ids the oracle
    # applies the ((x % m) + m) % m idiom at the innermost mod (the only
    # step whose dividend can be negative — after it, every operand is
    # ≥ 0).
    u = F.pmod(lcg_hash(F.col("doc_id"), inc=54321), F.lit(1000))
    return (
        docs.withColumn("p_permille", p.cast("long"))
        .filter(u < F.col("p_permille"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            "p_permille",
            F.round(1000.0 / F.col("p_permille"), 6).alias("ips_weight"),
        )
    )


@query(
    "corpus_domain_cap",
    oracle="""
    WITH h AS (
      SELECT source, lang, doc_id,
             CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
      FROM documents
    )
    SELECT source, doc_id, lang, rk FROM (
      SELECT source, doc_id, lang,
             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id)
                  AS INTEGER) AS rk
      FROM h
    ) WHERE rk <= 10
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str, k: int = 10, salts: int = 16) -> DataFrame:
    """Exact-k-per-domain cap — 'at most k docs per source', the
    per-domain limit web-corpus pipelines apply so no single domain
    dominates the training mix.  Rate-based sampling
    (sample_stratified) cannot give a hard cap under skew; this is the
    bounded-output version: keep the k docs with the smallest md5 rank
    key per source (a content-deterministic 'random' k, identical
    across engines and reruns).

    Scale shape — Spark ≥3.5's WindowGroupLimit already rewrites a
    rank-filtered window to map-side partial top-k (plan-locked by
    test), so even the single-window spelling never ships a whole hot
    domain: each map task emits ≤ k rows per source.  What remains at
    cluster scale is the REDUCER fan-in: one reducer per source still
    receives k × #map-tasks rows (k=1000 × 800k map tasks at 100 TB =
    8e8 rows on one task).  The two-phase spelling divides that by the
    salt count — phase 1 spreads the hot source over `salts` reducers,
    phase 2 then sees ≤ salts·k rows per domain BY CONSTRUCTION — at
    the price of one extra (cap-bounded) shuffle, measured +0.3 s on a
    4M-row planted-skew frame locally (PERF.md).  Provably equal to
    the single-phase spelling (each global top-k row is its salt
    bucket's local top-≤k) — asserted by test on both the fixture and
    the planted-skew frame, and the oracle IS the single-phase
    spelling."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("source", "lang", "doc_id", md5_long(F.col("doc_id").cast("string"), 15).alias("hk"))
    local_w = Window.partitionBy("source", F.pmod("doc_id", F.lit(salts))).orderBy("hk", "doc_id")
    survivors = h.withColumn("_lrk", F.row_number().over(local_w)).filter(F.col("_lrk") <= k)
    global_w = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(global_w))
        .filter(F.col("rk") <= k)
        .select("source", "doc_id", "lang", "rk")
    )


_LINE_W = 8
_BOILER_A = "subscribe to our newsletter for weekly product updates"
_BOILER_B = "all rights reserved contact support for more information"
_LINE_DF = 3


@query(
    "text_line_dedup",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN '{_BOILER_B} ' || t ELSE t END AS text
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN '{_BOILER_A} ' || text
                        ELSE text END AS t
            FROM documents)
    ), w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM aug),
    lines AS (
      SELECT doc_id, line_id,
             ARRAY_TO_STRING(words[line_id*{_LINE_W} + 1 : line_id*{_LINE_W} + {_LINE_W}], ' ')
               AS line
      FROM (SELECT doc_id, words,
                   UNNEST(RANGE(0, CAST(CEIL(LEN(words) / {_LINE_W}.0) AS BIGINT)))
                     AS line_id
            FROM w)
    ), freq AS (
      SELECT line FROM lines GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= {_LINE_DF}
    ), flagged AS (
      SELECT doc_id, line_id, line,
             line IN (SELECT line FROM freq) AS boiler
      FROM lines
    )
    SELECT doc_id,
           -- COALESCE: a fully-boilerplate doc keeps an EMPTY text, not
           -- NULL (LIST over zero qualifying rows is NULL; caught by the
           -- 100x sweep - 900 such docs exist only at scale)
           COALESCE(ARRAY_TO_STRING(LIST(line ORDER BY line_id)
                                    FILTER (WHERE NOT boiler), ' '), '')
             AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM flagged GROUP BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE deduplication — the C4/RefinedWeb cleanup
    pass: any line occurring in ≥ 3 distinct documents is boilerplate
    (nav bars, cookie banners, footers) and is removed from EVERY
    document, preserving the order of what survives.  The fixture has
    no natural boilerplate, so 8-word header lines are planted on every
    4th/6th doc in-query (8 words = exactly one line, so content line
    boundaries stay aligned) — the SAME construction as the oracle.

    Scale shape: docs → fixed-width lines via ONE array-native
    transform + posexplode (the text_chunk pattern, stride = width);
    line document-frequency is a single groupBy with map-side partial
    countDistinct; the reassembly is one groupBy(doc_id) with an
    order-restoring sorted collect.  The line join key is the line
    text at fixture scale — at 100 TB group and join on the line's
    128-bit ``textops.fingerprint`` (the exact-dedup discipline; a
    64-bit ``xxhash64`` collides at 10¹¹ lines) and broadcast the
    frequent set (boilerplate is tiny by definition) into the flagging
    join.  Fingerprints do not compress while the fixture's repeated
    lines do, so that key change needs its own shuffle-byte
    measurement."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(_BOILER_A + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("t"),
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit(_BOILER_B + " "), F.col("t")))
        .otherwise(F.col("t"))
        .alias("text"),
    )
    words = F.split("text", " ")
    n_lines = F.ceil(F.size(words) / float(_LINE_W)).cast("long")
    line_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda i: F.array_join(F.slice(words, (i * _LINE_W + 1).cast("int"), _LINE_W), " "),
    )
    lines = aug.select("doc_id", F.posexplode(line_arr).alias("line_id", "line"))
    freq = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _LINE_DF)
        .select("line", F.lit(True).alias("boiler"))
    )
    flagged = lines.join(F.broadcast(freq), "line", "left").withColumn(
        "boiler", F.coalesce(F.col("boiler"), F.lit(False))
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(
                            F.struct("line_id", F.col("boiler"), F.col("line"))
                        )
                    ),
                    lambda s: ~s["boiler"],
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("boiler").cast("int")).cast("long").alias("n_removed"),
    )


@query(
    "corpus_curriculum",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(1000 - (1000 * LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                      w -> LIST_CONTAINS({STOPWORDS!r}, w))))
                         // LEN(STRING_SPLIT(text, ' ')) AS BIGINT)
               AS difficulty_milli
      FROM documents
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    b AS (
      SELECT {', '.join(
          f"MIN(CASE WHEN cum >= ({k}*n + 4) // 5 THEN v END) AS cb{k}"
          for k in (1, 2, 3, 4))}
      FROM (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT difficulty_milli AS v, COUNT(*) AS c FROM d GROUP BY 1)),
           nn
    )
    SELECT doc_id, difficulty_milli,
           CAST(1 + {' + '.join(
               f"(CASE WHEN difficulty_milli > cb{k} THEN 1 ELSE 0 END)"
               for k in (1, 2, 3, 4))} AS INT) AS stage,
           SUBSTR(MD5('curr-1:' || CAST(doc_id AS VARCHAR)), 1, 16)
             AS curriculum_key
    FROM d, b
    """,
)
def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training data — easy→hard staging by a
    difficulty signal (here: 1000 − stopword density in milli-units;
    low stopword density ≈ denser, harder text on these fixtures),
    split into 5 stages of ~n/5 docs each, with a deterministic
    within-stage shuffle key.

    Stage boundaries reuse the events_rfm machinery: order statistics
    off the bounded-domain (0..1000) value-histogram CDF, broadcast as
    one row, applied as scan-side comparisons — never an NTILE window
    over the full corpus.  The within-stage order is carried as a KEY
    (md5 of a seeded doc tag, the corpus_shuffle_shards discipline),
    not a materialized global rank: shard writers
    ``sortWithinPartitions(stage, curriculum_key)`` and readers
    consume stages in order — no global sort ever materializes.
    Integer arithmetic end-to-end ⇒ engine-exact."""
    from pyspark_caffe_spark.queries.analytics_ext import _rfm_cdf_bounds

    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    d = docs.select(
        "doc_id",
        (
            F.lit(1000)
            - F.floor((F.lit(1000) * n_stop) / F.size(words)).cast("long")
        ).alias("difficulty_milli"),
    )
    n_df = d.agg(F.count("*").alias("n"))
    bounds = _rfm_cdf_bounds(d, "difficulty_milli", n_df, "cb")
    stage = F.lit(1)
    for k in (1, 2, 3, 4):
        stage = stage + (F.col("difficulty_milli") > F.col(f"cb{k}")).cast("int")
    return d.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "difficulty_milli",
        stage.cast("int").alias("stage"),
        F.substring(
            F.md5(F.concat(F.lit("curr-1:"), F.col("doc_id").cast("string"))), 1, 16
        ).alias("curriculum_key"),
    )


@query(
    "dedup_url_canonicalize",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'https://WWW.CDN.Example.COM:443/docs/'
                           || CAST(doc_id // 5 AS VARCHAR) || '/'
               WHEN 1 THEN 'https://cdn.example.com/docs/'
                           || CAST(doc_id // 5 AS VARCHAR)
                           || '?utm_source=feed&utm_campaign=x'
               WHEN 2 THEN 'https://cdn.example.com/docs/'
                           || CAST(doc_id // 5 AS VARCHAR) || '#section2'
               WHEN 3 THEN 'https://cdn.example.com/docs/'
                           || CAST(doc_id // 5 AS VARCHAR)
                           || '?b=2&a=1&utm_medium=email'
               ELSE 'https://cdn.example.com/docs/'
                           || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
             END AS url
      FROM documents
    ), parts AS (
      SELECT doc_id,
             REGEXP_REPLACE(REGEXP_REPLACE(
               LOWER(REGEXP_EXTRACT(url, '^[a-z]+://([^/?#]+)', 1)),
               '^www\.', ''), ':443$', '') AS host,
             REGEXP_REPLACE(
               REGEXP_EXTRACT(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
               '/+$', '') AS path,
             LIST_SORT(LIST_FILTER(
               STRING_SPLIT(REGEXP_EXTRACT(url, '\?([^#]*)', 1), '&'),
               x -> x <> '' AND NOT x LIKE 'utm\_%' ESCAPE '\')) AS params
      FROM raw
    ), canon AS (
      SELECT doc_id,
             'https://' || host || path ||
             CASE WHEN LEN(params) > 0
                  THEN '?' || ARRAY_TO_STRING(params, '&') ELSE '' END
               AS canonical_url
      FROM parts
    )
    SELECT canonical_url, MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier staple: the
    same page arrives as WWW./mixed-case hosts, default ports,
    trailing slashes, tracking params (utm_*), fragments, and
    reordered query strings; canonicalize then keep-first so the
    fetcher/corpus stores each page once.  Five messy variants are
    synthesized per logical page in-query (same construction as the
    oracle): variants 0-2 collapse to the bare URL (3:1), variants 3-4
    to the sorted-params URL (2:1) — proving host/port/slash/fragment/
    tracking-param normalization AND parameter reordering all land on
    one key.

    Canonical steps (identical expression trees in both engines):
    lowercase host, strip leading www. and :443, strip trailing path
    slashes, drop the fragment, drop utm_* params, SORT surviving
    params.  All codegen'd regexp/array ops — a pure scan-side map at
    100 TB — followed by ONE groupBy on the canonical key.  At that
    scale group on its 128-bit ``textops.fingerprint`` (the exact-dedup
    discipline), not on a 64-bit ``xxhash64``, which collides at 10¹¹
    keys; 16 random bytes do not compress while the fixture's URLs do,
    so such a key change needs its own shuffle-byte measurement."""
    docs = load_table(spark, sf_dir, "documents")
    base = F.expr("doc_id div 5").cast("string")
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 0, F.concat(F.lit("https://WWW.CDN.Example.COM:443/docs/"), base, F.lit("/")))
        .when(v == 1, F.concat(F.lit("https://cdn.example.com/docs/"), base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(v == 2, F.concat(F.lit("https://cdn.example.com/docs/"), base, F.lit("#section2")))
        .when(v == 3, F.concat(F.lit("https://cdn.example.com/docs/"), base, F.lit("?b=2&a=1&utm_medium=email")))
        .otherwise(F.concat(F.lit("https://cdn.example.com/docs/"), base, F.lit("?a=1&b=2")))
    )
    raw = docs.select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    params = F.sort_array(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda x: (x != "") & ~x.startswith("utm_"),
        )
    )
    canonical = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))).otherwise(
            F.lit("")
        ),
    )
    return (
        raw.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_variants"))
    )
