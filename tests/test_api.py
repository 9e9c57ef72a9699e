"""Unit tests for the public API modules (model / textops / vecops) on
synthetic data — the library surface a reference user migrates to."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_caffe_spark import model, textops, vecops


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((40, 8))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rows = [(i, [float(v) for v in mat[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, schema="vec_id long, emb array<double>")
    return df, mat


def test_linear_model_activations():
    m = model.LinearModel(np.array([[1.0, -1.0]]), bias=np.array([0.5]), activation="relu")
    out = m.forward(np.array([[2.0, 1.0]]))
    assert out.tolist() == [[1.5]]
    s = model.LinearModel(np.array([1.0, 0.0]), activation="sigmoid")
    assert abs(s.forward(np.array([[0.0, 9.9]]))[0] - 0.5) < 1e-12


def test_npz_roundtrip(tmp_path):
    w = np.arange(6, dtype=np.float64).reshape(2, 3)
    np.savez(tmp_path / "m.npz", weights=w, bias=np.array([1.0, 2.0]))
    m = model.LinearModel.from_npz(str(tmp_path / "m.npz"))
    assert np.allclose(m.forward(np.ones((1, 3))), [[3 + 1, 12 + 2]])


def test_score_column_matches_numpy(spark, emb_df):
    df, mat = emb_df
    w = np.round(np.random.default_rng(5).standard_normal(8), 6)
    out = model.score_column(df, model.LinearModel(w), "emb", "s").orderBy("vec_id").collect()
    want = mat @ w
    got = np.array([r["s"] for r in out])
    assert np.allclose(got, want, atol=1e-9)


def test_train_parameter_averaging_converges(spark):
    rng = np.random.default_rng(11)
    x = rng.standard_normal((300, 4))
    true_w = np.array([1.0, -2.0, 0.5, 3.0])
    y = x @ true_w + 0.7
    rows = [([float(v) for v in x[i]], float(y[i])) for i in range(300)]
    df = spark.createDataFrame(rows, schema="f array<double>, y double")
    w, losses = model.train_parameter_averaging(df, "f", "y", dim=4, rounds=4, partitions=4)
    assert losses[-1] < losses[0] * 0.2, losses
    assert np.allclose(w[:4], true_w, atol=0.5)


@pytest.fixture(scope="module")
def docs_df(spark):
    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog again and"),        # near dup
        (3, "completely different words here about spark and large tables"),
    ]
    return spark.createDataFrame(texts, schema="doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    out = {r["keep_id"]: r["n_copies"] for r in textops.exact_dedup(docs_df).collect()}
    assert out[0] == 2  # docs 0,1 collapse
    assert out[2] == 1 and out[3] == 1


def test_shingles_and_fingerprint(spark, docs_df):
    n = docs_df.select(F.size(textops.shingles_of("text", 5)).alias("n")).collect()
    assert all(r["n"] >= 1 for r in n)
    fps = [r["fp"] for r in docs_df.select(textops.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[3]


def test_fingerprint_is_128_bit_key_of_normalized_text(spark):
    rows = [
        (0, "Spark  Dedup\tKey "),
        (1, "spark dedup key"),  # equal after case/whitespace normalization
        (2, "spark dedup keys"),
        (3, "another text entirely"),
        (4, None),
        (5, None),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string").select(
        "doc_id",
        textops.fingerprint("text").alias("fp"),
        F.xxhash64(textops.normalized("text"), F.lit(1)).alias("chained"),
    )
    fp_type = df.schema["fp"].dataType
    assert [(f.name, f.dataType.typeName()) for f in fp_type.fields] == [
        ("h0", "long"),
        ("h1", "long"),
    ]
    out = {r["doc_id"]: r for r in df.collect()}
    assert out[0]["fp"] == out[1]["fp"]
    assert len({out[i]["fp"] for i in (1, 2, 3)}) == 3
    assert out[4]["fp"] == out[5]["fp"]  # null texts form one group
    # independent second hash: never Spark's seed-chained xxhash64(norm, 1)
    assert all(out[i]["fp"]["h1"] != out[i]["chained"] for i in range(4))


def test_word_bag_keeps_token_multiset(spark):
    texts = [None, "", " ", "a  b", " lead", "trail ", "  both  ", "b a b c a b", "x"]
    df = spark.createDataFrame(list(enumerate(texts)), schema="doc_id long, text string")
    out = df.select(
        "doc_id",
        textops.words_of("text").alias("words"),
        textops.word_bag("text").alias("bag"),
        textops.words_of(textops.word_bag("text")).alias("bag_words"),
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        if texts[r["doc_id"]] is None:
            assert r["bag"] is None and r["bag_words"] is None
            continue
        assert sorted(r["bag_words"]) == sorted(r["words"]), (texts[r["doc_id"]], r["bag"])
        assert r["bag_words"] == sorted(r["bag_words"])  # equal tokens sit next to each other
    bags = {texts[r["doc_id"]]: r["bag"] for r in out}
    assert bags["a  b"] == " a b"  # the empty token of the double space is kept
    assert bags["b a b c a b"] == "a a b b b c"


def test_minhash_pairs_find_near_dup(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in textops.minhash_dedup_pairs(docs_df, num_hashes=16, bands=8).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup in ≥1 band
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_pairs(spark, docs_df):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in textops.jaccard_pairs(docs_df).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 <= out[(0, 2)] < 1.0


def test_containment_pairs_prefix_dup(spark, docs_df):
    """Truncated copy: every shingle of the short doc is in the long
    one → containment exactly 1.0 (and the exact-dup pair too)."""
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in textops.containment_pairs(docs_df, threshold=0.8).collect()
    }
    assert out[(0, 1)] == 1.0 and out[(0, 2)] == 1.0 and out[(1, 2)] == 1.0
    assert not any(3 in p for p in out)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment = 1.0
    but Jaccard is far below the 0.5 near-dup bar — the case this
    operator exists for."""
    quote = "to be or not to be that is the question"
    filler = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")],
        schema="doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in textops.containment_pairs(df, threshold=0.8).collect()
    }
    assert cont[(1, 2)] == 1.0
    jac = textops.jaccard_pairs(df, threshold=0.0).collect()
    assert all(r["jaccard"] < 0.5 for r in jac)  # symmetric metric misses it


def test_jaccard_hot_shingle_guard(spark):
    """Planted ubiquitous shingle: df-cutoff must suppress its quadratic
    candidate block while true near-dups (overlapping on non-hot
    shingles) still pair up."""
    rows = [(i, f"common boiler plate text u{i}a u{i}b u{i}c") for i in range(40)]
    rows.append((100, "common boiler plate text u5a u5b u5c extra"))
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in textops.jaccard_pairs(df, max_df=10).collect()
    }
    # only the planted near-dup survives; the shared boilerplate shingle
    # (df=41 > 10) generates no pairs
    assert set(got) == {(5, 100)}
    assert abs(got[(5, 100)] - 0.75) < 1e-9  # 3 common / (3 + 4 - 3) non-hot shingles


def test_minhash_bucket_guard(spark):
    """Degenerate bucket (30 identical docs → every band bucket holds
    all 30): the bucket cap drops it; uncapped it goes quadratic."""
    rows = [(i, "identical corpus boilerplate text repeated endlessly here") for i in range(30)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    ungated = textops.minhash_dedup_pairs(df, num_hashes=16, bands=8, max_bucket=None)
    assert ungated.count() == 30 * 29 // 2
    gated = textops.minhash_dedup_pairs(df, num_hashes=16, bands=8, max_bucket=16)
    assert gated.count() == 0


def test_countmin_one_sided_error_under_collisions(spark, sf_dir):
    """Count-min with a deliberately tiny sketch (d=2, w=8): collisions
    are guaranteed, the one-sided-error property must still hold
    (est ≥ exact for every token) and at least one estimate must
    actually be inflated — proving the sketch, not the vocab, produced
    the numbers."""
    from pyspark_caffe_spark.queries.llm import text_heavy_hitters

    rows = text_heavy_hitters(spark, sf_dir, depth=2, width=8).collect()
    assert len(rows) == 10
    assert all(r["overest_ok"] for r in rows)
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)
    assert any(r["est_cnt"] > r["exact_cnt"] for r in rows)


def test_domain_cap_two_phase_equals_single_phase(spark, sf_dir):
    """The salted two-phase top-k must be row-identical to the naive
    single-window spelling (the skew fix may not change results), and
    every source must be capped at exactly k."""
    from pyspark.sql import Window

    from pyspark_caffe_spark.queries.llm import corpus_domain_cap
    from pyspark_caffe_spark.tables import load_table, md5_long

    two = corpus_domain_cap(spark, sf_dir, k=7, salts=4)
    h = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id", md5_long(F.col("doc_id").cast("string"), 15).alias("hk")
    )
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    one = (
        h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 7)
        .select("source", "doc_id", "lang", "rk")
    )
    assert two.exceptAll(one).count() == 0 and one.exceptAll(two).count() == 0
    per_src = {r["source"]: r["n"] for r in two.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(n == 7 for n in per_src.values())


def test_drift_psi_invariants(spark, sf_dir):
    """PSI math invariants: each term (q−p)·ln(q/p) is ≥ 0 (sign(q−p)
    = sign(ln(q/p))), smoothed shares sum to 1 per snapshot, and the
    full 10-bucket spine reports."""
    from pyspark_caffe_spark.queries.scale_ops import profile_drift_psi

    rows = profile_drift_psi(spark, sf_dir).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(10))
    assert all(r["psi_term"] >= 0 for r in rows)
    assert abs(sum(r["p_base"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["p_cur"] for r in rows) - 1.0) < 1e-4


def test_containment_dominates_jaccard(spark, docs_df):
    """For every candidate pair, containment ≥ Jaccard (min ≤ union),
    with equality only when the shingle sets are equal-sized."""
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in textops.jaccard_pairs(docs_df, threshold=0.0).collect()
    }
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in textops.containment_pairs(docs_df, threshold=0.0).collect()
    }
    assert set(jac) == set(cont)
    assert all(cont[p] >= jac[p] - 1e-9 for p in jac)


def test_vecops_topk_matches_numpy(spark, emb_df):
    df, mat = emb_df
    from pyspark_caffe_spark.nputil import round_half_away

    scores = round_half_away(mat @ mat.T, 6)  # rank on rounded, like the engine
    iu = np.triu_indices(len(mat), k=1)
    ranked = sorted(zip(-scores[iu], iu[0], iu[1]))  # score desc, id_a, id_b
    want = (int(ranked[0][1]), int(ranked[0][2]))
    got = vecops.topk_pairs(df, k=1).collect()[0]
    assert (got["id_a"], got["id_b"]) == want


def test_vecops_threshold_matches_numpy(spark, emb_df):
    df, mat = emb_df
    tau = 0.3
    scores = np.round(mat @ mat.T, 6)
    iu = np.triu_indices(len(mat), k=1)
    want = {(int(a), int(b)) for a, b in zip(*iu) if scores[a, b] >= tau}
    got = {(r["id_a"], r["id_b"]) for r in vecops.threshold_pairs(df, tau=tau).collect()}
    assert got == want


def test_vecops_threshold_blocked_tier_matches_numpy(spark, emb_df):
    """Force the distributed block-pair tier (broadcast cap 0) — must be
    exactly the numpy all-pairs result, including companion columns."""
    df, mat = emb_df
    df = df.withColumn("lbl", (F.col("vec_id") % 3).cast("int"))
    tau = 0.3
    scores = np.round(mat @ mat.T, 6)
    iu = np.triu_indices(len(mat), k=1)
    want = {(int(a), int(b)) for a, b in zip(*iu) if scores[a, b] >= tau}
    got_rows = vecops.threshold_pairs(
        df, tau=tau, extra_cols=["lbl"], broadcast_max_rows=0, block_rows=7
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == want
    for r in got_rows:
        assert r["id_a"] < r["id_b"]
        assert r["lbl_a"] == r["id_a"] % 3 and r["lbl_b"] == r["id_b"] % 3


def test_vecops_topk_blocked_tier_matches_broadcast(spark, emb_df):
    df, mat = emb_df
    broad = vecops.topk_pairs(df, k=5).collect()
    blocked = vecops.topk_pairs(df, k=5, broadcast_max_rows=0, block_rows=7).collect()
    assert [tuple(r) for r in blocked] == [tuple(r) for r in broad]


def test_vecops_collect_matrix_guard(spark, emb_df):
    df, _ = emb_df
    import pytest as _pytest

    with _pytest.raises(ValueError, match="broadcast tier cap"):
        vecops._collect_matrix(df, "vec_id", "emb", max_rows=10)


def test_vecops_knn_for_query(spark, emb_df):
    df, mat = emb_df
    q = mat[0]
    got = [r["vec_id"] for r in vecops.knn_for_query(df.filter("vec_id != 0"), q, k=5).collect()]
    scores = mat[1:] @ q
    want = list(np.argsort(-np.round(scores, 6), kind="stable")[:5] + 1)
    assert got == [int(v) for v in want]


def test_vecops_knn_batch_matches_numpy(spark, emb_df):
    """knn_batch equals a numpy brute force over the rounded scores:
    no query is its own neighbour, ranks follow (cos desc, vec_id), and
    a planted tie that only rounding creates goes to the smaller id."""
    from pyspark_caffe_spark.nputil import round_half_away

    _, mat = emb_df
    q0 = mat[0]
    near = q0 + 1e-5 * mat[1]
    near /= np.linalg.norm(near)  # raw cos 1 - O(1e-11): rounds to 1.0
    ids = np.arange(42)
    corpus_mat = np.vstack([mat, near, q0])  # id 40 = near, id 41 = exact copy
    assert corpus_mat[41] @ q0 > corpus_mat[40] @ q0
    rows = [(int(i), [float(v) for v in corpus_mat[i]], int(i) % 3) for i in ids]
    corpus = spark.createDataFrame(rows, schema="vec_id long, emb array<double>, tag int")
    queries = corpus.filter("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"), F.col("tag").alias("q_tag")
    )
    out = vecops.knn_batch(corpus, queries, 3)
    assert "q_emb" not in out.columns and {"emb", "tag", "q_tag"} <= set(out.columns)
    got = sorted(
        (r["query_id"], r["rnk"], r["vec_id"], r["cos"], r["q_tag"])
        for r in out.collect()
    )
    want = []
    for qi in range(4):
        scores = round_half_away(corpus_mat @ corpus_mat[qi], 6)
        order = [i for i in np.lexsort((ids, -scores)) if i != qi][:3]
        want += [(qi, r + 1, int(i), float(scores[i]), qi % 3) for r, i in enumerate(order)]
    assert got == sorted(want)
    # query 0 ties at 1.0 between ids 40 and 41: the smaller id ranks first
    assert [g[2] for g in got if g[0] == 0][:2] == [40, 41]


def test_extract_features_multi_head_matches_rounded_numpy(spark, emb_df):
    """A 3-head extract_features pass with ndigits=6 equals
    round_half_away(x @ W.T, 6), including a score that sits exactly
    on the half (2.5e-6 → 3e-6, where np.round gives 2e-6)."""
    from pyspark_caffe_spark.nputil import round_half_away

    _, mat = emb_df
    w = np.round(np.random.default_rng(9).standard_normal((3, 8)), 6)
    w[0] = [1.0] + [0.0] * 7
    half = np.array([[2.5e-6] + [0.0] * 7])
    x = np.vstack([mat, half])
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, schema="vec_id long, emb array<double>")
    out = model.extract_features(df, model.LinearModel(w), "emb", "f", ndigits=6)
    got = np.array([r["f"] for r in out.orderBy("vec_id").collect()])
    assert got.shape == (len(x), 3)
    assert np.allclose(got, round_half_away(x @ w.T, 6), rtol=0, atol=1e-12)
    assert got[-1, 0] == 3e-6


def test_multi_head_argmax_first_max_wins(spark):
    """ml_multi_model_apply's array_position(array_max) argmax picks
    the FIRST head on a tie, as np.argmax and the oracle's CASE do."""
    from pyspark_caffe_spark.queries.ml import _argmax

    scores = [[0.5, 0.7, 0.7], [0.2, 0.2, 0.1], [-1.0, -1.0, -1.0], [0.0, 0.1, 0.3]]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(scores)], "i int, s array<double>")
    got = [r["best"] for r in df.select("i", _argmax(F.col("s")).alias("best")).orderBy("i").collect()]
    assert got == [int(v) for v in np.argmax(np.array(scores), axis=1)] == [1, 0, 0, 2]


def test_python_datasource_partition_parallelism(spark):
    """The custom Python DataSource must expose its declared
    parallelism: 8 InputPartitions -> 8 Spark partitions, disjoint
    round-robin id ranges covering [0, n) exactly once."""
    from pyspark_caffe_spark.queries.relational import _SynthTelemetrySource

    spark.dataSource.register(_SynthTelemetrySource)
    df = (
        spark.read.format("synth_telemetry")
        .option("n", 1000)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    ids = [r.rec_id for r in df.collect()]
    assert sorted(ids) == list(range(1000))


def test_python_sink_commit_leaves_no_temps(spark, sf_dir):
    """Two-phase commit hygiene: after a successful write through the
    custom sink, only committed part files + the manifest are visible
    — no _tmp- task files survive, and the manifest row count equals
    the committed rows."""
    import glob
    import os as _os

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.relational import _scratch

    QUERIES["sink_python_datasource"](spark, sf_dir).collect()
    sink = _scratch("pyds_sink_", sf_dir)
    assert not glob.glob(_os.path.join(sink, "_tmp-*"))
    parts = glob.glob(_os.path.join(sink, "part-*.jsonl"))
    assert parts
    n_lines = sum(sum(1 for _ in open(p)) for p in parts)
    manifest = int(open(_os.path.join(sink, "_MANIFEST")).read())
    assert n_lines == manifest


def test_stream_source_checkpoint_resume(spark, tmp_path):
    """Exactly-once across restart for the custom streaming source:
    drain a few micro-batches against a checkpoint, STOP, restart from
    the same checkpoint, finish — every offset range must be read
    exactly once (readBetweenOffsets replays any planned-but-unread
    batch).  Total rows == 500 with no duplicates proves the offset
    contract end to end."""
    import time as _time

    from pyspark_caffe_spark.queries.streaming import _SynthTickerSource

    spark.dataSource.register(_SynthTickerSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_until(min_rows, timeout=90):
        q = (
            spark.readStream.format("synth_ticker")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = _time.time() + timeout
            while _time.time() < deadline:
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = 0
                if n >= min_rows:
                    return n
                _time.sleep(0.2)
            raise TimeoutError(f"never reached {min_rows} rows")
        finally:
            q.stop()

    run_until(100)          # first run: at least one committed batch
    run_until(500)          # resume from checkpoint: finish the stream
    got = spark.read.parquet(out)
    ids = [r.pos for r in got.collect()]
    assert sorted(ids) == list(range(500)), (
        f"{len(ids)} rows, {len(set(ids))} distinct — duplicate or lost offsets"
    )


def test_epoch_sink_commit_is_idempotent(tmp_path):
    """ADVICE round 7: a micro-batch replayed after a crash between
    sink commit and offset-log write must OVERWRITE the first
    attempt.  Simulate the replay directly against the writer: commit
    batch 0 with three partitions, then re-commit the same batchId
    with only two (a replay can produce fewer non-empty partitions) —
    the first attempt's third epoch file must be gone and _EPOCHS must
    carry exactly one line for batch 0, with the replay's count."""
    import glob
    import os as _os

    from pyspark_caffe_spark.queries.relational import _JsonlCommitMessage
    from pyspark_caffe_spark.queries.streaming import _EpochJsonlStreamWriter

    path = str(tmp_path / "epochs")
    w = _EpochJsonlStreamWriter(path)
    _os.makedirs(path, exist_ok=True)

    def mk(name, n):
        with open(_os.path.join(path, name), "w") as f:
            for i in range(n):
                f.write('{"v": %d}\n' % i)
        return _JsonlCommitMessage(name, n)

    w.commit([mk("_tmp-a", 2), mk("_tmp-b", 3), mk("_tmp-c", 4)], 0)
    assert len(glob.glob(_os.path.join(path, "epoch-00000-*.jsonl"))) == 3

    # replay of batch 0 after a simulated crash: fewer partitions
    w.commit([mk("_tmp-d", 2), mk("_tmp-e", 3)], 0)
    files = sorted(glob.glob(_os.path.join(path, "epoch-00000-*.jsonl")))
    assert len(files) == 2, f"first attempt's files survived the replay: {files}"
    rows = sum(sum(1 for _ in open(p)) for p in files)
    assert rows == 5
    lines = open(_os.path.join(path, "_EPOCHS")).read().splitlines()
    assert lines == ["0,5"], f"manifest not idempotent per batchId: {lines}"

    # a later batch appends normally and leaves batch 0 untouched
    w.commit([mk("_tmp-f", 1)], 1)
    lines = open(_os.path.join(path, "_EPOCHS")).read().splitlines()
    assert lines == ["0,5", "1,1"]


def test_batch_sink_commit_guards_none_and_empty(tmp_path):
    """ADVICE round 7: the batch sink's commit/abort must skip None
    commit messages (a failed task's slot) instead of raising
    AttributeError past the OSError guard, and must delete zero-row
    temp files rather than renaming empty parts into the visible set."""
    import glob
    import os as _os

    from pyspark_caffe_spark.queries.relational import (
        _JsonlCommitMessage,
        _ScratchJsonlWriter,
    )

    path = str(tmp_path / "scratch")
    w = _ScratchJsonlWriter(path)
    _os.makedirs(path, exist_ok=True)

    def mk(name, n):
        with open(_os.path.join(path, name), "w") as f:
            for i in range(n):
                f.write('{"v": %d}\n' % i)
        return _JsonlCommitMessage(name, n)

    w.commit([mk("_tmp-a", 2), None, mk("_tmp-empty", 0), mk("_tmp-b", 1)])
    parts = sorted(glob.glob(_os.path.join(path, "part-*.jsonl")))
    assert len(parts) == 2, f"zero-row temp renamed into the visible set: {parts}"
    assert not glob.glob(_os.path.join(path, "_tmp-*"))
    assert int(open(_os.path.join(path, "_MANIFEST")).read()) == 3

    # abort with a None slot must not raise and must sweep temps
    m = mk("_tmp-c", 1)
    w.abort([None, m])
    assert not glob.glob(_os.path.join(path, "_tmp-*"))


def _bipartite_want(mat, left_ids, right_ids, tau):
    scores = np.round(mat[left_ids] @ mat[right_ids].T, 6)
    return {
        (int(left_ids[i]), int(right_ids[j]))
        for i, j in zip(*np.nonzero(scores >= tau))
    }


def test_vecops_bipartite_broadcast_matches_numpy(spark, emb_df):
    df, mat = emb_df
    left = df.filter(F.col("vec_id") < 15)
    right = df.filter(F.col("vec_id") >= 15)
    tau = 0.3
    want = _bipartite_want(mat, np.arange(15), np.arange(15, 40), tau)
    got = {
        (r["id_a"], r["id_b"])
        for r in vecops.bipartite_threshold_pairs(left, right, tau).collect()
    }
    assert got == want


def test_vecops_bipartite_grid_tier_matches_numpy(spark, emb_df):
    """Force the distributed grid tier (broadcast cap 0) — exact
    left×right result, every qualifying cross pair exactly once."""
    df, mat = emb_df
    left = df.filter(F.col("vec_id") < 15)
    right = df.filter(F.col("vec_id") >= 15)
    tau = 0.3
    want = _bipartite_want(mat, np.arange(15), np.arange(15, 40), tau)
    rows = vecops.bipartite_threshold_pairs(
        left, right, tau, broadcast_max_rows=0, block_rows=7
    ).collect()
    got = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(got) == len(set(got)), "grid tier emitted a pair twice"
    assert set(got) == want


@pytest.mark.parametrize("shape", ["bipartite", "self"])
def test_vecops_lsh_bipartite_sound_and_recalls(spark, emb_df, shape):
    """Banded LSH, cross-corpus and self-join tiers: every emitted pair
    must be exactly correct (cosine ≥ tau — soundness), and recall vs
    the exact edge set ≥ 0.8 at this similarity level."""
    df, mat = emb_df
    tau = 0.3
    if shape == "self":
        scores = np.round(mat @ mat.T, 6)
        want = {(int(a), int(b)) for a, b in zip(*np.triu_indices(40, k=1)) if scores[a, b] >= tau}
        rows = vecops.lsh_threshold_pairs(df, tau, dim=8, planes_per_band=4, bands=16).collect()
    else:
        left = df.filter(F.col("vec_id") < 15)
        right = df.filter(F.col("vec_id") >= 15)
        want = _bipartite_want(mat, np.arange(15), np.arange(15, 40), tau)
        rows = vecops.lsh_bipartite_threshold_pairs(
            left, right, tau, dim=8, planes_per_band=4, bands=16
        ).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got <= want, f"unsound pairs emitted: {got - want}"
    assert want, "degenerate fixture: no exact pairs to recall"
    assert len(got) / len(want) >= 0.8, (len(got), len(want))


def test_vecops_lsh_rejects_dim_mismatch(spark, emb_df):
    """An LSH signature over vectors whose length is not the plane
    width must raise.  zip_with null-pads the shorter array, so every
    sign bit would be 0: all vectors share one bucket, the bucket cap
    drops it, and the tier would return nothing without an error."""
    df, _ = emb_df  # 8-dim vectors; every call below uses 64-wide planes
    left = df.filter(F.col("vec_id") < 15)
    right = df.filter(F.col("vec_id") >= 15)
    runs = [
        lambda: vecops.lsh_bucket(df, np.ones((4, 64))),
        lambda: vecops.lsh_threshold_pairs(df, 0.9, planes_per_band=4, bands=16, max_bucket=10),
        lambda: vecops.lsh_bipartite_threshold_pairs(left, right, 0.3, planes_per_band=4, bands=16),
    ]
    for run in runs:
        with pytest.raises(Exception, match="plane width 64"):
            run().collect()


def test_vecops_auto_bipartite_routes(spark, emb_df):
    """Router tiers: exact when the right side fits the cap; exact with
    SWAPPED broadcast when only the left side fits; banded LSH when
    neither does (soundness holds there too)."""
    df, mat = emb_df
    left = df.filter(F.col("vec_id") < 15)
    right = df.filter(F.col("vec_id") >= 15)
    tau = 0.3
    want = _bipartite_want(mat, np.arange(15), np.arange(15, 40), tau)
    # right (25 rows) fits a cap of 30 → broadcast-right exact route
    got = {
        (r["id_a"], r["id_b"])
        for r in vecops.auto_bipartite_threshold_pairs(
            left, right, tau, exact_max_rows=30
        ).collect()
    }
    assert got == want
    # cap 20: right (25) over, left (15) under → swapped broadcast,
    # output must still be (left id, right id)
    got_swap = {
        (r["id_a"], r["id_b"])
        for r in vecops.auto_bipartite_threshold_pairs(
            left, right, tau, exact_max_rows=20
        ).collect()
    }
    assert got_swap == want
    # cap 5: both sides over → LSH route; sound subset with recall
    rows = vecops.auto_bipartite_threshold_pairs(
        left, right, tau, exact_max_rows=5, dim=8, planes_per_band=4, bands=16
    ).collect()
    got_lsh = {(r["id_a"], r["id_b"]) for r in rows}
    assert got_lsh <= want
    assert len(got_lsh) / len(want) >= 0.8


def test_exact_percentiles_matches_builtin(spark):
    """quantiles.exact_percentiles must be VALUE-IDENTICAL to the
    buffering built-in `percentile` — including interpolated (fractional
    rank) and integral-rank targets, duplicate-heavy values, and a
    group whose values are all equal."""
    import numpy as np

    from pyspark_caffe_spark import quantiles

    rng = np.random.default_rng(11)
    rows = []
    for g, n in [("a", 1001), ("b", 400), ("c", 7)]:
        vals = np.round(rng.uniform(0, 1000, n), 2)
        if g == "b":
            vals = np.repeat(np.round(rng.uniform(0, 10, 40), 1), 10)  # ties
        if g == "c":
            vals = np.full(7, 42.5)
        rows += [(g, float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.5, 0.9, 0.25]
    got = {
        r["g"]: (r["p_0"], r["p_1"], r["p_2"])
        # buffer_threshold=0 forces the bracketed path (the size router
        # would otherwise hand this tiny frame to the built-in)
        for r in quantiles.exact_percentiles(
            df, "g", "v", ps, buffer_threshold=0
        ).collect()
    }
    want = {
        r["g"]: (r["q0"], r["q1"], r["q2"])
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(f"q{i}") for i, p in enumerate(ps)])
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        for a, b in zip(got[g], want[g]):
            assert a == b, (g, got[g], want[g])


def test_exact_percentiles_survives_coarse_sketch(spark):
    """Correctness must never ride on the sketch: with a deliberately
    terrible accuracy the bracket-containment proof fails, the retry
    widens, and the result is STILL exact."""
    import numpy as np

    from pyspark_caffe_spark import quantiles

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [("x", float(v)) for v in rng.uniform(0, 100, 500)], "g string, v double"
    )
    got = quantiles.exact_percentiles(
        df, "g", "v", [0.5], accuracy=1, delta=1e-6, buffer_threshold=0
    ).collect()[0]["p_0"]
    want = df.agg(F.percentile("v", F.lit(0.5))).collect()[0][0]
    assert got == want


def test_exact_percentiles_null_group_and_null_values(spark):
    """Round-9 advice: (a) a NULL group key must satisfy its own
    containment proof (eqNullSafe) — previously it could never match,
    silently sending the WHOLE frame to the buffering fallback after
    retries; (b) an all-NULL-values group must yield a null row like
    the built-in, not vanish; (c) an ALL-groups-all-null frame must
    not raise on the zero-expression containment aggregate."""
    from pyspark_caffe_spark import quantiles

    rows = (
        [("a", float(v)) for v in range(101)]
        + [(None, float(v * 2)) for v in range(51)]
        + [("empty", None)] * 5
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: r["p_0"]
        for r in quantiles.exact_percentiles(
            df, "g", "v", [0.5], buffer_threshold=0
        ).collect()
    }
    want = {
        r["g"]: r["q"]
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.lit(0.5)).alias("q"))
        .collect()
    }
    assert got == want  # includes None: 50.0 and "empty": None
    # (c): every group all-null — bracketed path must fall back cleanly
    all_null = spark.createDataFrame(
        [("x", None), ("y", None)], "g string, v double"
    )
    got2 = {
        r["g"]: r["p_0"]
        for r in quantiles.exact_percentiles(
            all_null, "g", "v", [0.5], buffer_threshold=0
        ).collect()
    }
    assert got2 == {"x": None, "y": None}


def test_exact_percentiles_group_cap_raises(spark):
    """Driver bracket state is O(|groups|*|ps|): past max_groups the
    helper must raise with a route to percentile_approx, not collect
    unbounded state (vecops' cap-and-raise discipline)."""
    import pytest

    from pyspark_caffe_spark import quantiles

    df = spark.range(100).selectExpr("id as g", "cast(id as double) as v")
    with pytest.raises(ValueError, match="percentile_approx"):
        quantiles.exact_percentiles(
            df, "g", "v", [0.5], buffer_threshold=0, max_groups=10
        )


def test_exact_percentiles_extra_aggs_both_paths(spark):
    """Round-18 optimization: extra_aggs companion aggregates must ride
    the percentile machinery's own pass — value-identical to a separate
    groupBy — on BOTH routes (built-in buffering and forced bracket),
    including a group whose values are all NULL, and reserved internal
    names must be rejected."""
    import pytest

    from pyspark_caffe_spark import quantiles

    rows = [("a", float(v)) for v in range(101)] + [
        ("b", float(v * 3) if v % 2 else None) for v in range(40)
    ] + [("z", None)] * 5  # all-NULL value group
    df = spark.createDataFrame(rows, "g string, v double")
    extra = {"n": F.count("*"), "vmax4": F.round(F.max("v"), 4)}
    want = {
        r["g"]: (r["n"], r["vmax4"])
        for r in df.groupBy("g")
        .agg(F.count("*").alias("n"), F.round(F.max("v"), 4).alias("vmax4"))
        .collect()
    }
    for kw in (
        {},                        # built-in route (size router)
        {"buffer_threshold": 0},   # forced bracket route
    ):
        got = {
            r["g"]: (r["n"], r["vmax4"])
            for r in quantiles.exact_percentiles(
                df, "g", "v", [0.5, 0.9], extra_aggs=extra, **kw
            ).collect()
        }
        assert got == want, (kw, got, want)
    with pytest.raises(ValueError, match="collide"):
        quantiles.exact_percentiles(
            df, "g", "v", [0.5], extra_aggs={"_n": F.count("*")}
        )
    # round-19 (r18 advisory): the built-in path's "_p" alias, the
    # bracket path's "_eg" re-emit key, and the p_<i> OUTPUT names are
    # reserved too — each used to surface later as an opaque
    # ambiguous-reference AnalysisException instead of this ValueError
    for name in ("_p", "_eg", "p_0"):
        with pytest.raises(ValueError, match="collide"):
            quantiles.exact_percentiles(
                df, "g", "v", [0.5], extra_aggs={name: F.count("*")}
            )
    # p_<i> past the requested percentile count is NOT an output column
    # — it must stay usable
    ok = quantiles.exact_percentiles(
        df, "g", "v", [0.5], extra_aggs={"p_1": F.count("*")}
    )
    assert "p_1" in ok.columns and "p_0" in ok.columns


def test_lsh_auto_bands_sizing(spark, sf_dir):
    """Round-9 verdict #5 machinery: bands=None sizes the band count
    from the (τ, P, target-recall) banding identity — the values the
    100× measurement validated — and the auto-sized run still returns
    a sound subset with recall over the fixture corpus."""
    from pyspark_caffe_spark import vecops
    from pyspark_caffe_spark.tables import load_table

    # formula anchors (independently computed): near-dup regime is
    # cheap, moderate-τ needs many bands, clamps hold
    assert vecops.auto_bands(0.9, 12) == 14
    assert vecops.auto_bands(0.4, 7) == 57
    assert vecops.auto_bands(0.99, 4) == 8      # clamp low
    assert vecops.auto_bands(0.1, 12) == 96     # clamp high (un-servable regime)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    tau = 0.4
    want = {
        (r["id_a"], r["id_b"])
        for r in vecops.bipartite_threshold_pairs(left, right, tau).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in vecops.lsh_bipartite_threshold_pairs(
            left, right, tau, planes_per_band=4, bands=None
        ).collect()
    }
    assert got <= want, "LSH route emitted a non-pair (verify stage broken)"
    if want:
        assert len(got) / len(want) >= 0.8


def test_auto_geometry_joint_sizing_and_exact_fallback(spark, sf_dir):
    """auto_geometry reproduces the 100×-validated near-dup geometry,
    signals the un-prunable regime, and the routers act on the
    signal: an LSH-infeasible (τ, recall-target) combination routes
    to the EXACT tier — the result equals the exact pair set, not a
    low-recall subset."""
    from pyspark_caffe_spark import vecops
    from pyspark_caffe_spark.tables import load_table

    # the measured-good near-dup geometry falls out of the fixed point
    assert vecops.auto_geometry(0.9, 100_000, 100_000)[:2] == (12, 14)
    # moderate-τ uniform at scale: bands clamp, predicted ≪ target
    _, _, pred = vecops.auto_geometry(0.4, 100_000, 100_000)
    assert pred < 0.5
    # fixture-sized feasible case keeps the LSH tier honest
    p4, b4, pr4 = vecops.auto_geometry(0.38, 250, 250)
    assert p4 == 4 and pr4 >= 0.9

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    tau = 0.2
    # an extreme recall target no clamped band count can reach at this
    # τ → the router must take the exact grid tier (verified by exact
    # equality, which the LSH tier could only achieve by accident)
    want = sorted(
        tuple(r)
        for r in vecops.bipartite_threshold_pairs(left, right, tau).collect()
    )
    got = sorted(
        tuple(r)
        for r in vecops.auto_bipartite_threshold_pairs(
            left, right, tau, exact_max_rows=5, target_recall=0.999999
        ).collect()
    )
    assert got == want


@pytest.mark.parametrize(
    "key,want",
    [
        ("join_asof", "2024-01-01 01:00:00"),
        ("join_asof_tolerance", None),  # both clicks are 4 h away, past the 2 h bound
        ("join_asof_nearest", "2024-01-01 01:00:00"),  # a 4 h / 4 h tie goes to prev
    ],
)
def test_asof_null_ts_brackets_nothing(spark, sf_dir, tmp_path, key, want):
    """A purchase whose ``ts`` is null matches no click.  One user:
    clicks at 01:00 and 09:00, purchases at NULL and 05:00."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_caffe_spark.queries import QUERIES

    def at(hour):
        return None if hour is None else datetime(2024, 1, 1, hour)

    events = [
        (1, at(1), "click"), (2, at(9), "click"), (3, None, "purchase"), (4, at(5), "purchase"),
    ]
    schema = pq.read_schema(f"{sf_dir}/events.parquet")
    rows = [
        {"event_id": i, "ts": ts, "user_id": 7, "event_type": kind, "value": 1.0, "props": "{}"}
        for i, ts, kind in events
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema), tmp_path / "events.parquet")
    df = QUERIES[key](spark, str(tmp_path))
    got = [
        tuple(r)
        for r in df.select("event_id", *(F.col(c).cast("string") for c in df.columns[2:])).orderBy("event_id").collect()
    ]
    assert got == [(3, None, None), (4, "2024-01-01 05:00:00", want)]


def test_asof_bracket_skips_null_ts_refs(spark):
    """A ref row whose ``ts`` is null is neither ``prev`` nor ``next``
    of any probe, though its ``carry`` is not null; a probe whose
    ``ts`` is null gets neither."""
    from pyspark_caffe_spark.queries.joins import asof_bracket

    probe = spark.createDataFrame([(1, 0, 5), (2, 0, None)], "id long, k long, t long")
    ref = spark.createDataFrame([(0, None, 10), (0, 7, 11), (0, None, 12)], "k long, t long, ref_id long")
    out = asof_bracket(probe, ref, "k", "t", F.struct("t", "ref_id")).orderBy("id").collect()
    got = [(r["id"], r["prev"] and r["prev"]["ref_id"], r["next"] and r["next"]["ref_id"]) for r in out]
    assert got == [(1, None, 11), (2, None, None)]


def test_ewma_matches_pandas_recompute(spark, sf_dir):
    """Second-engine check for win_ewma beyond the DuckDB oracle: an
    independent float recomputation (numpy, per-user trailing 20-term
    0.75-decay weighted mean) agrees to 1e-9 relative, the first event
    of every user equals its own value, and every EWMA lies inside the
    [min, max] of its trailing window (convex-combination bound)."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    got = {
        r["event_id"]: r["ewma"]
        for r in QUERIES["win_ewma"](spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    w = [0.75**k for k in range(20)]
    checked_first = 0
    for rows in by_user.values():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        vals = [r["value"] for r in rows]
        for i, r in enumerate(rows):
            window = vals[max(0, i - 19) : i + 1][::-1]  # newest first
            expect = sum(wk * v for wk, v in zip(w, window)) / sum(
                w[: len(window)]
            )
            assert abs(got[r["event_id"]] - expect) <= 1e-9 * max(1.0, abs(expect))
            assert min(window) - 1e-9 <= got[r["event_id"]] <= max(window) + 1e-9
            if i == 0:
                assert abs(got[r["event_id"]] - r["value"]) < 1e-9
                checked_first += 1
    assert checked_first == len(by_user)


def test_html_strip_invariants(spark, sf_dir):
    """No markup survives: clean text holds no tags, entities, or
    style payload; decoded entities ARE allowed (the planted
    &lt;table&gt; legitimately becomes literal '<table>' content).
    Ratio/length columns are self-consistent."""
    from pyspark_caffe_spark.queries import QUERIES

    rows = QUERIES["text_html_strip"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        clean = r["clean_text"]
        for banned in ("</", "<html", "<p>", "<nav", "&amp;", "&lt;", "&gt;", "&copy;", "margin:0"):
            assert banned not in clean, (r["doc_id"], banned)
        assert clean.startswith("Doc ")
        assert r["n_clean"] == len(clean)
        assert 0.0 < r["retained_ratio"] < 1.0
        assert abs(r["retained_ratio"] - r["n_clean"] / r["n_raw"]) < 1e-12


def test_incremental_equals_batch_and_state_bounded(spark, sf_dir):
    """pipeline_incremental == the direct one-shot Spark recompute
    (row-exact both ways), and the persisted state table is the
    constant-size aggregate (≤ |days| × |event types| rows), never raw
    history — the property that makes the refresh O(delta) at 100 TB."""
    import datetime
    import os

    from pyspark_caffe_spark.money import exact_money_sum
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.relational import _scratch
    from pyspark_caffe_spark.tables import load_table

    inc = QUERIES["pipeline_incremental"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        exact_money_sum(F.col("value"), "sum_value"),
    )
    assert inc.exceptAll(batch).count() == 0
    assert batch.exceptAll(inc).count() == 0
    tag = os.path.basename(sf_dir.rstrip("/"))
    state = spark.read.parquet(_scratch(f"incr_state_{tag}"))
    n_days = 24  # 2024-01-01 .. 01-24 strictly before the cutoff
    assert state.count() <= n_days * 5
    assert state.agg(F.max("day")).collect()[0][0] < datetime.date(2024, 1, 25)


def test_rfm_score_invariants(spark, sf_dir):
    """RFM scoring invariants: every score in 1..5; segment is the
    score concatenation; scores are monotone in their dimension
    (equal-value users share a score, higher value never lowers it);
    and the CDF-boundary guarantee holds — at least ceil(k·n/5) users
    sit at or below quintile k in every dimension."""
    import math

    from pyspark_caffe_spark.queries import QUERIES

    rows = QUERIES["events_rfm"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for r in rows:
        for s in ("r_score", "f_score", "m_score"):
            assert 1 <= r[s] <= 5
        assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
    for dim, score, inverted in (
        ("recency_days", "r_score", True),
        ("frequency", "f_score", False),
        ("monetary_cents", "m_score", False),
    ):
        pairs = sorted((r[dim] if not inverted else -r[dim], r[score]) for r in rows)
        for (v0, s0), (v1, s1) in zip(pairs, pairs[1:]):
            assert s1 >= s0, (dim, v0, s0, v1, s1)
            if v1 == v0:
                assert s1 == s0
        # ascending-bucket cumulative floor: cum(score ≤ k) ≥ ceil(k·n/5)
        ranked = [s if not inverted else 6 - s for _, s in pairs]
        for k in (1, 2, 3, 4):
            cum = sum(1 for s in ranked if s <= k)
            assert cum >= math.ceil(k * n / 5), (dim, k, cum, n)


def test_mmr_matches_greedy_reference(spark, sf_dir):
    """sim_mmr_diversify vs an independent numpy greedy MMR over the
    same 6dp-rounded dot products: identical slates, identical order,
    mmr scores to 1e-12 — and the slate's first pick is always the
    plain relevance argmax."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.similarity import (
        _MMR_CAND,
        _MMR_K,
        _MMR_QUERIES,
    )
    from pyspark_caffe_spark.tables import load_table

    emb_rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    vecs = {r["vec_id"]: np.array(r["emb"]) for r in emb_rows}
    got = {}
    for r in QUERIES["sim_mmr_diversify"](spark, sf_dir).collect():
        got.setdefault(r["query_id"], []).append(r)
    assert sorted(got) == list(range(_MMR_QUERIES))
    lam = 0.5
    for qid in range(_MMR_QUERIES):
        rel = {
            v: round(float(vecs[v] @ vecs[qid]), 6) for v in vecs if v != qid
        }
        cand = sorted(rel, key=lambda v: (-rel[v], v))[:_MMR_CAND]
        sim = {
            (a, b): round(float(vecs[a] @ vecs[b]), 6)
            for a in cand
            for b in cand
            if a != b
        }
        selected: list = []
        for _ in range(_MMR_K):
            best = None
            for c in cand:
                if c in selected:
                    continue
                pen = max((sim[(c, s)] for s in selected), default=None)
                mmr = lam * rel[c] if pen is None else lam * rel[c] - (1 - lam) * pen
                if best is None or (mmr, -c) > (best[1], -best[0]):
                    best = (c, mmr)
            selected.append(best[0])
            rank = len(selected)
            row = next(r for r in got[qid] if r["pick_rank"] == rank)
            assert row["vec_id"] == best[0], (qid, rank, row["vec_id"], best)
            assert abs(row["mmr"] - best[1]) < 1e-12
        ranks = sorted(r["pick_rank"] for r in got[qid])
        assert ranks == list(range(1, _MMR_K + 1))
        # pick 1 is the pure-relevance argmax (empty penalty set)
        top_rel = min(rel, key=lambda v: (-rel[v], v))
        assert next(r for r in got[qid] if r["pick_rank"] == 1)["vec_id"] == top_rel


def test_line_dedup_removes_planted_boilerplate(spark, sf_dir):
    """Every doc keeps its row; every planted header is gone from
    every affected doc's cleaned text; untouched docs' cleaned text
    still holds all their surviving original words in order; and the
    per-doc line accounting is internally consistent."""
    import math

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.llm import _BOILER_A, _BOILER_B, _LINE_W
    from pyspark_caffe_spark.tables import load_table

    out = {r["doc_id"]: r for r in QUERIES["text_line_dedup"](spark, sf_dir).collect()}
    src = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(out) == set(src)
    for doc_id, r in out.items():
        assert _BOILER_A not in r["clean_text"]
        assert _BOILER_B not in r["clean_text"]
        n_words = len(src[doc_id].split(" "))
        if doc_id % 4 == 0:
            n_words += _LINE_W
        if doc_id % 6 == 0:
            n_words += _LINE_W
        assert r["n_lines"] == math.ceil(n_words / _LINE_W)
        assert 0 <= r["n_removed"] <= r["n_lines"]
        if doc_id % 4 == 0 or doc_id % 6 == 0:
            assert r["n_removed"] >= 1, doc_id
        # surviving text is a subsequence of the augmented word stream
        clean_words = r["clean_text"].split(" ") if r["clean_text"] else []
        aug_words = src[doc_id].split(" ")
        if doc_id % 4 == 0:
            aug_words = _BOILER_A.split(" ") + aug_words
        if doc_id % 6 == 0:
            aug_words = _BOILER_B.split(" ") + aug_words
        it = iter(aug_words)
        assert all(w in it for w in clean_words), doc_id


def test_curriculum_stage_invariants(spark, sf_dir):
    """Curriculum staging: stages are 1..5; stage is monotone in the
    difficulty signal (ties share a stage); the CDF floor holds
    (cum(stage ≤ k) ≥ ceil(k·n/5)); and the within-stage key is a
    deterministic 16-hex shuffle key."""
    import math
    import re as _re

    from pyspark_caffe_spark.queries import QUERIES

    rows = QUERIES["corpus_curriculum"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    assert all(1 <= r["stage"] <= 5 for r in rows)
    assert all(_re.fullmatch(r"[0-9a-f]{16}", r["curriculum_key"]) for r in rows)
    pairs = sorted((r["difficulty_milli"], r["stage"]) for r in rows)
    for (v0, s0), (v1, s1) in zip(pairs, pairs[1:]):
        assert s1 >= s0
        if v1 == v0:
            assert s1 == s0
    for k in (1, 2, 3, 4):
        cum = sum(1 for _, s in pairs if s <= k)
        assert cum >= math.ceil(k * n / 5), (k, cum, n)
    again = {
        r["doc_id"]: r["curriculum_key"]
        for r in QUERIES["corpus_curriculum"](spark, sf_dir).collect()
    }
    assert all(again[r["doc_id"]] == r["curriculum_key"] for r in rows)


def test_attribution_conservation(spark, sf_dir):
    """Attribution accounting: last-touch conversions across channels
    (incl. 'direct') sum to the purchase count, and linear
    micro-credits conserve to 1e6 per purchase up to the documented
    floor loss (< n_touches per purchase)."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["events_attribution"](spark, sf_dir).collect()
    channels = {r["channel"] for r in rows}
    assert "direct" in channels and channels <= {"click", "view", "direct"}
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    purchases = [r for r in ev if r["event_type"] == "purchase"]
    n_p = len(purchases)
    assert sum(r["n_last"] for r in rows) == n_p
    total_linear = sum(r["linear_micro"] for r in rows)
    total_touches = sum(r["n_touch_events"] for r in rows)
    assert total_linear <= n_p * 1_000_000
    assert total_linear >= n_p * 1_000_000 - total_touches
    # independent recount of one purchase's touch window
    from datetime import timedelta

    by_user: dict = {}
    for r in ev:
        if r["event_type"] in ("click", "view"):
            by_user.setdefault(r["user_id"], []).append(r)
    n_touch_ref = sum(
        1
        for p in purchases
        for t in by_user.get(p["user_id"], [])
        if p["ts"] - timedelta(days=7) <= t["ts"] < p["ts"]
    )
    assert n_touch_ref == total_touches


def test_url_canonicalize_collapses_variants(spark, sf_dir):
    """Every complete 5-doc group collapses 3:1 (bare URL) and 2:1
    (sorted-params URL) with keep-first ids; no canonical URL retains
    www/port/fragment/tracking noise, and query params come out
    sorted."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["dedup_url_canonicalize"](spark, sf_dir).collect()
    by_url = {r["canonical_url"]: r for r in rows}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_variants"] for r in rows) == n_docs
    for url, r in by_url.items():
        assert "www." not in url and ":443" not in url
        assert "#" not in url and "utm_" not in url
        assert url == url.lower()
        assert not url.split("?")[0].endswith("/")
        if "?" in url:
            params = url.split("?", 1)[1].split("&")
            assert params == sorted(params)
    for g in range(n_docs // 5):
        bare = f"https://cdn.example.com/docs/{g}"
        withq = f"https://cdn.example.com/docs/{g}?a=1&b=2"
        assert by_url[bare]["n_variants"] == 3 and by_url[bare]["keep_id"] == 5 * g
        assert by_url[withq]["n_variants"] == 2 and by_url[withq]["keep_id"] == 5 * g + 3


def test_retrieval_eval_metric_consistency(spark, sf_dir):
    """Per-query metric identities: hit flags are monotone
    (hit1 ≤ hit5 ≤ hit10), a miss means rank NULL ∧ rr 0 ∧ hit10 0,
    and reciprocal_rank is exactly 1/first_rel_rank otherwise."""
    from pyspark_caffe_spark.queries import QUERIES

    rows = QUERIES["ml_retrieval_eval"](spark, sf_dir).collect()
    assert len(rows) == 16
    for r in rows:
        assert r["hit1"] <= r["hit5"] <= r["hit10"]
        if r["first_rel_rank"] is None:
            assert r["reciprocal_rank"] == 0.0 and r["hit10"] == 0
        else:
            assert 1 <= r["first_rel_rank"] <= 10
            assert r["reciprocal_rank"] == 1.0 / r["first_rel_rank"]
            assert r["hit10"] == 1
            assert r["hit1"] == (1 if r["first_rel_rank"] == 1 else 0)
            assert r["hit5"] == (1 if r["first_rel_rank"] <= 5 else 0)


def test_theta_sketch_bound_nonvacuous(spark):
    """The theta est_within_bound flag must be doing real work: at
    50k-distinct cardinality (far past the 4096-entry exact mode) the
    sketch ESTIMATES (≠ exact for at least one op) yet stays within
    the 5% bound the query asserts — so a sketch regression would
    flip the hash-checked flag, not hide behind exact mode."""
    a = spark.range(0, 50_000).selectExpr("id AS user_id")
    b = spark.range(25_000, 75_000).selectExpr("id AS user_id")
    ska = a.agg(F.theta_sketch_agg("user_id").alias("sk"))
    skb = b.agg(F.theta_sketch_agg("user_id").alias("sk"))
    row = (
        ska.crossJoin(skb.withColumnRenamed("sk", "skb"))
        .select(
            F.theta_sketch_estimate(F.theta_intersection("sk", "skb")).alias("est_i"),
            F.theta_sketch_estimate(F.theta_union("sk", "skb")).alias("est_u"),
        )
        .collect()[0]
    )
    exact_i, exact_u = 25_000, 75_000
    assert row["est_i"] != exact_i or row["est_u"] != exact_u  # estimation mode
    assert abs(row["est_i"] - exact_i) <= 0.05 * exact_i + 1
    assert abs(row["est_u"] - exact_u) <= 0.05 * exact_u + 1


def test_kll_rank_bound_nonvacuous(spark):
    """The KLL rank flags must be doing real work: at 200k values the
    k=200 sketch's quantile is an APPROXIMATION (nonzero rank error
    for at least one p) while every rank error stays under the 0.025
    bound the query asserts."""
    vals = spark.range(0, 200_000).selectExpr("CAST(hash(id) % 1000000 AS DOUBLE) AS v")
    sk = vals.agg(F.kll_sketch_agg_double("v").alias("sk"))
    q = sk.select(
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p)).alias(f"q{i}")
            for i, p in enumerate((0.5, 0.9, 0.99))
        ]
    ).collect()[0]
    n = 200_000
    errs = []
    for i, p in enumerate((0.5, 0.9, 0.99)):
        rank = vals.filter(F.col("v") <= q[f"q{i}"]).count() / n
        errs.append(abs(rank - p))
    assert all(e <= 0.025 for e in errs), errs
    assert any(e > 0 for e in errs), "sketch returned exact ranks — vacuous test"


def test_state_inspect_metadata_and_partitioning(spark, sf_dir):
    """The statestore read must come from REAL distributed state: the
    state-metadata reader lists the aggregation operator with the
    8-way partitioning the drain pinned, and the state rows span
    multiple partitions (not one collapsed store)."""
    import os

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.relational import _scratch

    QUERIES["stream_state_inspect"](spark, sf_dir).collect()
    ckpt = _scratch(f"state_inspect_ckpt_{os.path.basename(sf_dir.rstrip('/'))}")
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1
    assert md[0]["operatorName"] == "stateStoreSave"
    assert md[0]["numPartitions"] == 8
    parts = {
        r["partition_id"]
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    assert len(parts) > 1, "all state collapsed into one partition"


def test_resample_interpolate_matches_python(spark, sf_dir):
    """Independent python recompute of the linear interpolation for
    every grid point: identical bracket selection and values to
    1e-9 relative; grid points never extrapolate (always strictly
    inside the user's observed range or on an observation)."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    got = {
        (r["user_id"], r["grid_ts"]): r["v_interp_cents"]
        for r in QUERIES["events_resample_interpolate"](spark, sf_dir).collect()
    }
    obs_rows = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 50))
        .select("user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("v"))
        .collect()
    )
    by_user: dict = {}
    for r in obs_rows:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["v"]))
    checked = 0
    for (uid, gts), v in got.items():
        series = sorted(by_user[uid])
        assert series[0][0] <= gts <= series[-1][0]
        prev = max((p for p in series if p[0] <= gts), key=lambda p: p[0])
        nxt = min((p for p in series if p[0] > gts), default=None, key=lambda p: p[0]) \
            if any(p[0] > gts for p in series) else None
        if nxt is None:  # grid exactly on the last observation
            expect = float(prev[1])
        else:
            t0, v0 = prev
            t1, v1 = nxt
            frac = (gts - t0).total_seconds() / (t1 - t0).total_seconds()
            expect = v0 + (v1 - v0) * frac
        assert abs(v - expect) <= 1e-9 * max(1.0, abs(expect)), (uid, gts, v, expect)
        checked += 1
    assert checked == len(got) and checked > 100


def test_survival_curve_invariants(spark, sf_dir):
    """Survival function laws: n_at_risk is non-increasing in
    lifespan_day, tops out at the user total (surv_frac 1.0 at the
    minimum lifespan), n_ended sums to the total, and
    surv_frac == n_at_risk / total exactly."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = sorted(
        QUERIES["events_survival"](spark, sf_dir).collect(),
        key=lambda r: r["lifespan_day"],
    )
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r["n_ended"] for r in rows) == total
    assert rows[0]["n_at_risk"] == total and rows[0]["surv_frac"] == 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["n_at_risk"] == a["n_at_risk"] - a["n_ended"]
    for r in rows:
        assert r["surv_frac"] == r["n_at_risk"] / total


def test_interval_coalesce_spans_disjoint_and_complete(spark, sf_dir):
    """Coalesced spans per user are strictly disjoint (next start >
    previous end), each covers ≥ one 30-minute window, and merge
    counts conserve the purchase count."""
    import datetime

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["join_interval_coalesce"](spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_merged"] for r in rows) == n_purchases
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for spans in by_user.values():
        spans.sort(key=lambda r: r["span_start"])
        for r in spans:
            assert r["span_end"] >= r["span_start"] + datetime.timedelta(minutes=30)
        for a, b in zip(spans, spans[1:]):
            assert b["span_start"] > a["span_end"], (a, b)


def test_anomaly_robust_matches_python(spark, sf_dir):
    """Full python recompute of the modified z-score: per-type median
    and MAD from the hourly counts, score equality to the last ulp
    (the grid-exactness claim), flag consistency, and sign(robust_z)
    == sign(n − median)."""
    import statistics

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["events_anomaly_robust"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").alias("n")).collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["n"])
    assert len(rows) == len(ev)
    stats = {
        t: (statistics.median(ns), statistics.median(abs(n - statistics.median(ns)) for n in ns))
        for t, ns in by_type.items()
    }
    for r in rows:
        med, mad = stats[r["event_type"]]
        if mad == 0:
            assert r["robust_z"] is None
            assert r["is_outlier"] == (r["n"] != med)
            continue
        expect = 0.6745 * (r["n"] - med) / mad
        assert r["robust_z"] == expect, (r, expect)
        assert r["is_outlier"] == (abs(expect) > 3.5)
        if r["n"] != med:
            assert (r["robust_z"] > 0) == (r["n"] > med)


def test_bootstrap_distribution_sane(spark, sf_dir):
    """The Poisson bootstrap must produce a REAL sampling
    distribution: replicate means vary (weights differ per
    replicate), every mean sits within 5% of the true mean, effective
    sizes fluctuate around n within 5·√n, and the replicate spread is
    the right ORDER (within [1/3, 3]× of the CLT σ/√n — the
    bootstrap's entire claim)."""
    import statistics

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["ml_bootstrap_ci"](spark, sf_dir).collect()
    assert len(rows) == 20
    vals = [
        round(r["value"] * 100)
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("value")
        .collect()
    ]
    n = len(vals)
    true_mean = sum(vals) / n
    clt_se = statistics.pstdev(vals) / n**0.5
    means = [r["boot_mean"] for r in rows]
    assert len(set(means)) > 1, "all replicates identical — weights are vacuous"
    for r in rows:
        assert abs(r["boot_mean"] - true_mean) <= 0.05 * true_mean
        assert abs(r["n_eff"] - n) <= 5 * n**0.5
    boot_se = statistics.pstdev(means)
    assert clt_se / 3 <= boot_se <= 3 * clt_se, (boot_se, clt_se)


def test_changepoint_matches_python_argmax(spark, sf_dir):
    """Exhaustive python recompute per event type: every candidate
    split's mean gap from the raw daily counts — the reported split
    must be the (|gap| desc, day asc) argmax with exactly matching
    means and shift."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    got = {r["event_type"]: r for r in QUERIES["events_changepoint"](spark, sf_dir).collect()}
    daily_rows = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    series: dict = {}
    for r in daily_rows:
        series.setdefault(r["event_type"], []).append((r["day"], r["n"]))
    for et, pts in series.items():
        pts.sort()
        total = sum(n for _, n in pts)
        best = None
        cum = 0
        for i, (day, n) in enumerate(pts[:-1], start=1):
            cum += n
            mb = cum / i
            ma = (total - cum) / (len(pts) - i)
            key = (-abs(ma - mb), day)
            if best is None or key < best[0]:
                best = (key, day, i, mb, ma)
        r = got[et]
        assert r["split_day"] == best[1] and r["days_before"] == best[2]
        assert r["mean_before"] == best[3] and r["mean_after"] == best[4]
        assert r["shift"] == best[4] - best[3]


def test_ks_test_matches_python_exact(spark, sf_dir):
    """Exact python recompute of the two-sample KS statistic from the
    raw cent values: the integer numerator argmax, its location, the
    D value, and the squared integer significance inequality must all
    match the key's output exactly."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    row = QUERIES["ml_ks_test"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    a = sorted(round(r["value"] * 100) for r in ev if r["event_type"] == "purchase")
    b = sorted(round(r["value"] * 100) for r in ev if r["event_type"] == "click")
    n1, n2 = len(a), len(b)
    assert (row["n1"], row["n2"]) == (n1, n2)
    import bisect

    best = (-1, None)
    for v in sorted(set(a) | set(b)):
        ca = bisect.bisect_right(a, v)
        cb = bisect.bisect_right(b, v)
        num = abs(ca * n2 - cb * n1)
        if num > best[0]:
            best = (num, v)
    assert row["ks_num"] == best[0] and row["ks_x"] == best[1]
    assert row["ks_d"] == best[0] / (n1 * n2)
    assert row["reject_h0"] == (best[0] ** 2 * 6250 > 11560 * (n1 + n2) * n1 * n2)


def test_permutation_test_matches_python(spark, sf_dir):
    """Full python replay of the randomization test: identical hash
    coins, relabeled group sums, replicate gaps, n_ge, and p-value —
    exact equality end to end."""
    import hashlib

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.queries.ml import _PERM_REPS
    from pyspark_caffe_spark.tables import load_table

    row = QUERIES["ml_permutation_test"](spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select("event_id", "event_type", "value")
        .collect()
    )
    pooled = [
        (r["event_id"], round(r["value"] * 100), 1 if r["event_type"] == "purchase" else 0)
        for r in ev
    ]
    n1 = sum(g for _, _, g in pooled)
    n2 = len(pooled) - n1
    assert (row["n1"], row["n2"]) == (n1, n2)
    obs = abs(
        sum(c for _, c, g in pooled if g == 1) / n1
        - sum(c for _, c, g in pooled if g == 0) / n2
    )
    assert row["obs_diff"] == obs
    thr = n1 / (n1 + n2)
    n_ge = 0
    for r in range(_PERM_REPS):
        s1 = s0 = k1 = k0 = 0
        for eid, c, _ in pooled:
            u = int(hashlib.md5(f"perm:{eid}:{r}".encode()).hexdigest()[:15], 16) / (1 << 60)
            if u < thr:
                s1 += c
                k1 += 1
            else:
                s0 += c
                k0 += 1
        if abs(s1 / k1 - s0 / k0) >= obs:
            n_ge += 1
    assert row["n_ge"] == n_ge
    assert row["p_value"] == n_ge / _PERM_REPS


def test_benford_distribution_shape(spark, sf_dir):
    """First-digit audit sanity: all nine digits report, counts
    conserve the order count, obs_frac is the exact count ratio, the
    expected fractions are the Benford constants summing to 1, and
    digit 1 is the modal first digit (prices span magnitudes)."""
    import math

    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    rows = {r["digit"]: r for r in QUERIES["agg_benford"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(1, 10))
    n = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_obs"] for r in rows.values()) == n
    for d, r in rows.items():
        assert r["obs_frac"] == r["n_obs"] / n
        assert abs(r["exp_frac"] - math.log10(1 + 1 / d)) < 1e-15
    assert abs(sum(r["exp_frac"] for r in rows.values()) - 1.0) < 1e-12
    for d, r in rows.items():
        assert r["within_tol"] == (abs(r["obs_frac"] - r["exp_frac"]) < 0.03)
    # the audit must DISCRIMINATE on this narrow-band fixture: the
    # uniform 1-4 / starved 5-9 shape is a genuine Benford violation —
    # digit 4 carries ~28% observed vs 9.7% expected, far past any
    # tolerance, so its flag must be false at every SF
    assert not rows[4]["within_tol"]
    assert any(not r["within_tol"] for r in rows.values())


def test_recursive_closure_matches_python_walk(spark, sf_dir):
    """Exact python recompute: for every part key, walking parent =
    k div 10 enumerates its proper ancestors with depths — the
    closure must equal that pair set exactly."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    got = {
        (r["ancestor"], r["descendant"]): r["depth"]
        for r in QUERIES["join_recursive_closure"](spark, sf_dir).collect()
    }
    keys = [
        r["p_partkey"]
        for r in load_table(spark, sf_dir, "part").select("p_partkey").collect()
        if r["p_partkey"] >= 1
    ]
    # exact reference: BFS over the actual edge set (edges only exist
    # where BOTH endpoints are part keys)
    edges = {}
    for k in keys:
        p = k // 10
        if p >= 1:
            edges.setdefault(p, []).append(k)
    ref = {}
    for a in keys:
        stack = [(c, 1) for c in edges.get(a, [])]
        while stack:
            node, d = stack.pop()
            ref[(a, node)] = d
            stack.extend((c, d + 1) for c in edges.get(node, []))
    assert got == ref


def test_epochs_manifest_read_never_raises_on_garbage(tmp_path):
    """Round-17 (verdict #3): property-pin the epoch sink's manifest
    parser the way round 16 pinned the ANN one — ANY byte content in
    _EPOCHS (torn writes, truncation, binary garbage) parses to a
    list of well-formed (digit-string, int) pairs, never a raise.
    The fuzz that motivated this found a REAL crash: commit() read
    the manifest text-mode with NO decode guard at all, so a torn
    multi-byte sequence (b'\\x80') raised UnicodeDecodeError and
    failed the micro-batch — the identical crash class the r16 ANN
    fuzz found past that parser's OSError-only guard."""
    import os as _os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark_caffe_spark.queries.streaming import _epochs_manifest_read

    manifest = _os.path.join(str(tmp_path), "_EPOCHS")

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=512))
    def check(blob: bytes) -> None:
        with open(manifest, "wb") as f:
            f.write(blob)
        pairs = _epochs_manifest_read(manifest)
        assert isinstance(pairs, list)
        for b, n in pairs:
            assert b.isdigit() and isinstance(n, int) and n >= 0

    check()
    # round-17 self-review regression, pinned explicitly (hypothesis
    # may not generate it in a given run): '²'.isdigit() is True but
    # int('²') raises ValueError, so the first cut's isdigit() guard
    # did NOT protect the int() — b'1,\xc2\xb2' is VALID UTF-8 and
    # crashed the parser.  isdecimal() matches int()'s accepted class.
    # Further known-bad pins: a lone torn byte, a torn line between
    # good ones, and an unterminated final line.
    for blob, want in [
        (b"0,5\n1,\xc2\xb2\n", [("0", 5)]),
        (b"\x80", []),
        (b"1,\xc2\xb2\n", []),
        (b"0,5\n\x80torn\n1,\xc2\xb2\n", [("0", 5)]),
        (b"0,5\n1,12", [("0", 5), ("1", 12)]),
    ]:
        with open(manifest, "wb") as f:
            f.write(blob)
        assert _epochs_manifest_read(manifest) == want, blob
    # round-trip property on top: what commit() writes, the parser
    # returns verbatim; absence degrades to no lines
    with open(manifest, "w") as f:
        f.write("0,5\n1,12\n")
    assert _epochs_manifest_read(manifest) == [("0", 5), ("1", 12)]
    _os.remove(manifest)
    assert _epochs_manifest_read(manifest) == []


def test_epoch_sink_commit_survives_garbage_manifest(tmp_path):
    """Round-17 regression for the fuzz-found crash: a torn/binary
    _EPOCHS must not fail commit() (UnicodeDecodeError aborted the
    micro-batch before this round's defensive reader).  The garbage
    lines degrade to nothing and the commit installs its own batch
    line — same degrade-don't-crash contract as the ANN manifest."""
    import os as _os

    from pyspark_caffe_spark.queries.relational import _JsonlCommitMessage
    from pyspark_caffe_spark.queries.streaming import _EpochJsonlStreamWriter

    path = str(tmp_path / "epochs")
    w = _EpochJsonlStreamWriter(path)
    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "_EPOCHS"), "wb") as f:
        f.write(b"0,5\n\x80torn")

    with open(_os.path.join(path, "_tmp-a"), "w") as f:
        f.write('{"v": 0}\n')
    w.commit([_JsonlCommitMessage("_tmp-a", 1)], 1)

    lines = open(_os.path.join(path, "_EPOCHS")).read().splitlines()
    # the parseable prior line survives; the torn tail is dropped
    assert lines == ["0,5", "1,1"], lines


def test_epochs_manifest_commit_side_propagates_real_io_errors(tmp_path):
    """commit()'s read-modify-rewrite must NOT degrade a transient
    OSError on an EXISTING manifest to zero lines — that rewrite would
    contain only the current batch, permanently discarding every
    previously committed total.  Absence and content garbage degrade;
    other OSErrors propagate.  Concrete non-FNF OSError used:
    IsADirectoryError (portable even under root, where chmod-000 does
    not block reads)."""
    import os as _os

    import pytest

    from pyspark_caffe_spark.queries.relational import _JsonlCommitMessage
    from pyspark_caffe_spark.queries.streaming import (
        _EpochJsonlStreamWriter,
        _epochs_manifest_read,
    )

    manifest = _os.path.join(str(tmp_path), "_EPOCHS")

    # absence degrades (first-ever commit has no manifest)
    assert _epochs_manifest_read(manifest) == []

    # a real IO error on an existing path raises.  Opening a directory
    # raises IsADirectoryError on POSIX but PermissionError on
    # Windows, so the pin asserts the portable contract: an OSError
    # that is NOT FileNotFoundError propagates.
    _os.makedirs(manifest)
    with pytest.raises(OSError) as ei:
        _epochs_manifest_read(manifest)
    assert not isinstance(ei.value, FileNotFoundError)

    # integration: commit() fails LOUD on the same condition instead
    # of rewriting the manifest down to one line
    path = str(tmp_path / "sink")
    w = _EpochJsonlStreamWriter(path)
    _os.makedirs(_os.path.join(path, "_EPOCHS"))
    with open(_os.path.join(path, "_tmp-a"), "w") as f:
        f.write('{"v": 0}\n')
    with pytest.raises(OSError) as ei:
        w.commit([_JsonlCommitMessage("_tmp-a", 1)], 1)
    assert not isinstance(ei.value, FileNotFoundError)


def test_epochs_manifest_read_strict_mode_never_raises_on_content(tmp_path):
    """The reader is strict about IO (a non-FNF OSError propagates)
    but never about content: ANY byte blob in an existing, readable
    _EPOCHS parses without raising, and the parse equals an
    independent reference (replace-decode, keep only lines that are
    exactly ``<Nd digits>,<Nd digits>`` after stripping)."""
    import os as _os
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark_caffe_spark.queries.streaming import _epochs_manifest_read

    manifest = _os.path.join(str(tmp_path), "_EPOCHS")
    line_re = _re.compile(r"(\d+),(\d+)")

    def reference(blob: bytes) -> list[tuple[str, int]]:
        out = []
        for ln in blob.decode("utf-8", errors="replace").splitlines():
            m = line_re.fullmatch(ln.strip())
            if m:
                out.append((m.group(1), int(m.group(2))))
        return out

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=512))
    def check(blob: bytes) -> None:
        with open(manifest, "wb") as f:
            f.write(blob)
        assert _epochs_manifest_read(manifest) == reference(blob)

    check()
    # known-bad concrete pins (hypothesis can miss the isdigit/int
    # class in a few hundred examples, so pin examples explicitly)
    for blob, want in [
        (b"\x80", []),
        (b"1,\xc2\xb2\n", []),
        (b"0,5\n1,12", [("0", 5), ("1", 12)]),
    ]:
        with open(manifest, "wb") as f:
            f.write(blob)
        assert _epochs_manifest_read(manifest) == want
        assert reference(blob) == want


def test_drain_raises_failed_sink_fast(spark, tmp_path):
    """A query that fails inside the engine makes the poll-free drain
    raise the engine's exception at once, not a TimeoutError at the
    120 s bound: synth_ticker feeds epoch_jsonl at a path under a
    regular file, so every write task fails on makedirs."""
    import time as _time

    import pytest
    from pyspark.errors import StreamingQueryException

    from pyspark_caffe_spark.queries.streaming import (
        _EpochJsonlStreamSink,
        _process_all_available,
        _SynthTickerSource,
    )

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    spark.dataSource.register(_SynthTickerSource)
    spark.dataSource.register(_EpochJsonlStreamSink)
    t0 = _time.monotonic()
    q = (
        spark.readStream.format("synth_ticker")
        .load()
        .writeStream.format("epoch_jsonl")
        .option("path", str(blocker / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    with pytest.raises(StreamingQueryException, match="NotADirectoryError"):
        _process_all_available(q, "epoch_jsonl drain")
    assert _time.monotonic() - t0 < 60.0
    assert not q.isActive


def test_drain_timeout_stops_query_and_names_drain():
    """A drain the engine never finishes is stopped by the timer at
    its bound, and the wait raises TimeoutError naming the drain."""
    import threading
    import time as _time

    import pytest

    from pyspark_caffe_spark.queries.streaming import _process_all_available

    class _StalledQuery:
        def __init__(self):
            self.stopped = threading.Event()

        def processAllAvailable(self):
            # like the engine: returns once the query is no longer active
            self.stopped.wait()

        def stop(self):
            self.stopped.set()

    q = _StalledQuery()
    t0 = _time.monotonic()
    with pytest.raises(TimeoutError, match="epoch_jsonl drain"):
        _process_all_available(q, "epoch_jsonl drain", timeout=0.2)
    assert q.stopped.is_set()
    assert _time.monotonic() - t0 < 5.0


def test_scratch_path_ignores_trailing_slash():
    """One scratch entry per scale factor, however the sf dir is
    spelled."""
    from pyspark_caffe_spark.queries.relational import SCRATCH, _scratch

    assert _scratch("wm_replay_", "/data/sf0.1/") == _scratch(
        "wm_replay_", "/data/sf0.1"
    ) == f"{SCRATCH}/wm_replay_sf0.1"


def test_foreachbatch_reuses_one_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """stream_foreachbatch keeps one checkpoint per scale factor and
    clears it before each run: two runs leave exactly one feb_ckpt_*
    dir and give the same answer."""
    import glob

    from pyspark_caffe_spark.queries import QUERIES, relational

    monkeypatch.setattr(relational, "SCRATCH", str(tmp_path))
    first = sorted(QUERIES["stream_foreachbatch"](spark, sf_dir).collect())
    second = sorted(QUERIES["stream_foreachbatch"](spark, sf_dir).collect())
    assert first == second
    assert len(glob.glob(str(tmp_path / "feb_ckpt_*"))) == 1
