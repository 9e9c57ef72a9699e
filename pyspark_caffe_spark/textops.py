"""Public text-pipeline API: tokenization, shingling, fingerprints,
dedup primitives — all codegen'd built-ins, no Python in the data path.

These are the composable pieces behind the `text_*` / `dedup_*` query
keys; a pipeline user calls them directly on any DataFrame with a text
column.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Canonical corpus stopword list — llm.py imports this (and bakes it
# into the oracle SQL); keep exactly one copy.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def words_of(text_col: str | Column = "text") -> Column:
    return F.split(text_col, " ")


def word_bag(text_col: str | Column = "text") -> Column:
    """The text's bag of words: its :func:`words_of` tokens sorted and
    re-joined on " ".

    Invariant: ``words_of(word_bag(t))`` is the same multiset of tokens
    as ``words_of(t)`` — the same tokens with the same counts, empty
    tokens from leading, trailing or doubled spaces included — only the
    order differs; a null text stays null.  A consumer that needs only
    per-token counts can ship the bag instead of the text: repeated
    words sit next to each other, so a block codec compresses them as
    runs.  ``sort_array``, not ``array_sort``: the latter's default
    comparator is a lambda, and built the bag about 40% slower (15,000
    documents, one core)."""
    return F.array_join(F.sort_array(words_of(text_col)), " ")


def shingles_of(text_col: str | Column = "text", k: int = 5) -> Column:
    """Sliding k-gram shingles over the token array (sequence +
    transform + slice: array-native, no explode needed until the
    consumer wants rows)."""
    words = words_of(text_col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )


def normalized(text_col: str | Column = "text") -> Column:
    """Case/whitespace normalization for exact dedup."""
    return F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))


def fingerprint(text_col: str | Column = "text") -> Column:
    """128-bit fingerprint of the normalized text: the key every exact
    dedup groups, partitions and joins on, so 16 bytes cross an
    exchange or a broadcast, never the text.

    Two independent 64-bit xxhash64 values in one struct: the second
    hashes the text behind a \\u0001 prefix.  Not ``xxhash64(norm,
    lit(1))``: Spark chains a multi-column hash through its seed, so
    that value is a function of the first and adds no bits.  At 10¹¹
    documents a 128-bit key collides with odds near 10⁻¹⁷; a 64-bit
    one all but surely collides.  Every null text gets one key, as
    nulls form one group in a groupBy on the text.  (A null guard
    around the struct would hide the shared normalization from
    Catalyst's common-subexpression elimination and triple its
    cost.)"""
    norm = normalized(text_col)
    return F.struct(
        F.xxhash64(norm).alias("h0"),
        F.xxhash64(F.concat(F.lit("\u0001"), norm)).alias("h1"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per normalized text, grouped on its 128-bit
    :func:`fingerprint`."""
    return (
        df.groupBy(fingerprint(text_col).alias("_fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .drop("_fp")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
    seed: int = 1234,
) -> DataFrame:
    """MinHash signatures: ONE xxhash64 per WORD, k word-hashes
    re-hashed per shingle position, then num_hashes mod-prime mixes
    (ANSI-safe long arithmetic). Returns (id, mh0..mhN-1).

    The shingle hash is xxhash64 over the k consecutive word-hash
    LONGS, not over the joined shingle STRING: building W shingle
    strings per doc (array_join of k words each) and hashing ~35-byte
    strings dominated the whole dedup_minhash key (measured 1.96 s of
    a 2.03 s key at sf0.1); hashing each word once and then 5 longs
    per position runs the same explode in 0.45 s — 4.4x — with the
    identical shingle COUNT and the same recall (50/50 plants).

    Two load-bearing details:

    * the word-hash array is materialized as a REAL projection column
      (``_wh``) before the per-position lambda references it k times —
      an inlined lambda array expression is re-evaluated once PER
      REFERENCE inside the consuming transform (measured 8 s, 4x
      slower than even the string recipe; same trap round 9 recorded
      for word-hash shingles);
    * positions use ``F.get`` (0-based, NULL past the end), never
      ``element_at`` — ANSI mode is on, and a doc shorter than k words
      has one position whose tail indexes run past the array
      (element_at would raise INVALID_ARRAY_INDEX). xxhash64 skips
      NULL inputs, so the short-doc shingle hashes the words that
      exist — same discriminating power as the old whole-text shingle.
    """
    p = (1 << 31) - 1
    rng = np.random.default_rng(seed)
    coef = list(zip(rng.integers(1, p, num_hashes), rng.integers(0, p, num_hashes)))
    words = words_of(text_col)
    whdocs = df.select(
        F.col(id_col), F.transform(words, lambda w: F.xxhash64(w)).alias("_wh")
    )
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_wh") - shingle_k, F.lit(0))),
        lambda i: F.xxhash64(
            *[F.get(F.col("_wh"), i + j) for j in range(shingle_k)]
        ),
    )
    base = whdocs.select(F.col(id_col), F.explode(shingle_hashes).alias("h"))
    hp = F.pmod(F.col("h"), F.lit(p))
    return base.groupBy(id_col).agg(
        *[
            F.min(F.pmod(hp * F.lit(int(a)) + F.lit(int(b)), F.lit(p))).alias(f"mh{k}")
            for k, (a, b) in enumerate(coef)
        ]
    )


def _band_rows(df: DataFrame, id_col: str, sigs: list[Column], out_id: str) -> DataFrame:
    """One (out_id, band, sig) row per band signature of each row — the
    banding explode of the minhash and the sign-LSH tiers."""
    structs = F.array(*[F.struct(F.lit(b).alias("band"), s.alias("sig")) for b, s in enumerate(sigs)])
    return df.select(F.col(id_col).alias(out_id), F.explode(structs).alias("bs")).select(
        out_id, "bs.band", "bs.sig"
    )


def _bucket_pairs(banded: DataFrame, id_col: str, max_bucket: int | None) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs of rows sharing a
    (band, sig) bucket: one groupBy shuffle, then each sorted bucket
    explodes to its pairs — never O(n²) over the corpus.  Buckets over
    ``max_bucket`` (None: no cap) are dropped, the skew guard against a
    degenerate bucket going quadratic."""
    keep = F.size("ids") > 1
    if max_bucket is not None:
        keep = keep & (F.size("ids") <= max_bucket)
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(keep)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("pair")
    )
    return pairs.select("pair.id_a", "pair.id_b").distinct()


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Band the signature, bucket-gather, emit candidate (id_a < id_b)
    pairs. The only shuffle is groupBy(band); never O(n²).

    ``max_bucket`` is the skew guard: a band bucket of M docs emits
    M(M-1)/2 pairs, so one degenerate bucket (boilerplate corpus, a
    constant field minhashed by mistake) can go quadratic. Buckets over
    the cap are dropped — at that collision rate the members are
    better handled by the exact-dedup pass (fingerprint groupBy) than
    by pairwise comparison. Fixture buckets are ≤ ~5 docs; the default
    cap never fires on real (non-degenerate) data."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
            "leftover minhash slots would be silently dropped"
        )
    rows_per_band = num_hashes // bands
    sigs = [
        F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ]
    return _bucket_pairs(_band_rows(signatures, id_col, sigs, id_col), id_col, max_bucket)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs, end to end."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    return lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket)


def _shingle_pairs(df, text_col, id_col, shingle_k, max_df, threshold, name, ratio) -> DataFrame:
    """(id_a < id_b, ``name``) pairs whose shingle-set overlap ratio
    ``ratio(n_common, n_a, n_b)`` is ≥ threshold, via an inverted-index
    self-join: one explode, one join keyed on the shingle, one
    (id_a, id_b) aggregate — O(candidates), never O(n²).  ``max_df`` is
    the document-frequency skew guard :func:`jaccard_pairs` describes."""
    # array_distinct already de-dupes within a doc and id_col is unique
    # per doc for every caller — no .distinct() (a full extra shuffle of
    # the largest intermediate in the job)
    sh = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles_of(text_col, shingle_k))).alias("sh")
    )
    if max_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    r = ratio(F.col("n_common"), F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col(f"sa.{id_col}") == F.col("id_a"))
        .join(sb, F.col(f"sb.{id_col}") == F.col("id_b"))
        .filter(r >= threshold)
        .select("id_a", "id_b", F.round(r, 6).alias(name))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 1024,
) -> DataFrame:
    """Exact shingle-set Jaccard via inverted index self-join.

    ``max_df`` is the skew guard (standard document-frequency cutoff):
    a shingle appearing in M docs contributes M(M-1)/2 rows to the
    self-join, so one ubiquitous boilerplate shingle goes quadratic at
    corpus scale. Shingles over the cap are removed from the shingle
    space BEFORE sizes and intersections (both sides see the same
    space, so the Jaccard stays internally consistent); the hot list
    is tiny by construction and anti-joined via broadcast — no extra
    shuffle on the big side. Fixture max df is 6, so the default cap
    never fires there (oracle parity unchanged)."""
    return _shingle_pairs(
        df, text_col, id_col, shingle_k, max_df, threshold, "jaccard",
        lambda common, na, nb: common.cast("double") / (na + nb - common),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 4,
    threshold: float = 0.8,
    max_df: int | None = 1024,
) -> DataFrame:
    """Asymmetric shingle-set containment pairs: C = |A∩B| / min(|A|,|B|).

    Catches the sub-document duplication symmetric Jaccard misses — a
    short doc fully quoted inside a long one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1.  Web-corpus
    pipelines (C4-style) run exactly this pass to drop quoted/embedded
    copies that survive the near-dup filter.

    Same inverted-index shape (and the same ``max_df``
    document-frequency skew guard) as :func:`jaccard_pairs`: one
    explode, one self-join keyed on the shingle, one (id_a, id_b)
    aggregate — O(candidates), never O(n²); shingles over the df cap
    are dropped from the shingle space on BOTH sides so the ratio
    stays internally consistent.
    """
    return _shingle_pairs(
        df, text_col, id_col, shingle_k, max_df, threshold, "containment",
        lambda common, na, nb: common.cast("double") / F.least(na, nb),
    )


def quality_columns(text_col: str = "text", stopwords: list[str] | None = None) -> dict[str, Column]:
    """Standard corpus-quality signals as named Columns."""
    stopwords = stopwords or STOPWORDS
    words = words_of(text_col)
    n_words = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda w: w.isin(*stopwords))).cast("double") / n_words
    return {
        "n_words": n_words.cast("long"),
        "stopword_ratio": stop_ratio,
        "avg_word_len": (F.length(text_col) - n_words + 1).cast("double") / n_words,
    }
