"""Invariant tests for the rows-only query keys (no SQL oracle — the
driver only counts rows for these, so the REAL correctness checks live
here: recall targets, accuracy bounds, monotone loss, watermark drops).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from pyspark_caffe_spark.queries import QUERIES
from pyspark_caffe_spark.tables import load_table


def test_scan_csv_roundtrip(spark, sf_dir):
    out = QUERIES["scan_csv_roundtrip"](spark, sf_dir)
    src_n = (
        load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000).count()
    )
    assert out.count() == src_n


def test_scan_json_roundtrip(spark, sf_dir):
    out = QUERIES["scan_json_roundtrip"](spark, sf_dir)
    src_n = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000).count()
    assert out.count() == src_n


def test_sink_partitioned(spark, sf_dir):
    out = QUERIES["sink_partitioned"](spark, sf_dir)
    expected = (
        load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").count()
    )
    assert out.count() == expected
    assert out.filter(F.col("o_orderstatus") != "F").count() == 0


def test_sample_seeded(spark, sf_dir):
    out = QUERIES["sample_seeded"](spark, sf_dir)
    total = load_table(spark, sf_dir, "orders").count()
    n1, n2 = out.count(), QUERIES["sample_seeded"](spark, sf_dir).count()
    assert n1 == n2, "seeded sample must be deterministic"
    assert 0.05 * total < n1 < 0.15 * total


def test_agg_approx_distinct(spark, sf_dir):
    """Deep check behind the key's in-plan within_tol flag: the raw HLL
    estimate really is within 5% of exact (guards against a vacuously
    true boolean)."""
    ev = load_table(spark, sf_dir, "events")
    both = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= 0.05 * r["exact"], tuple(r)
    assert all(
        r["within_tol"] for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    )


def test_ml_predict_join(spark, sf_dir):
    out = QUERIES["ml_predict_join"](spark, sf_dir)
    total = sum(r["n"] for r in out.collect())
    assert total == load_table(spark, sf_dir, "embeddings").count()


def test_ml_train_iter(spark, sf_dir):
    """Deep check behind the key's flags: the actual per-round MSE
    trace from parameter-averaging training is monotone decreasing."""
    from pyspark_caffe_spark.model import train_parameter_averaging
    from pyspark_caffe_spark.queries.ml import DIM, _emb

    _, losses = train_parameter_averaging(
        _emb(spark, sf_dir), "embedding", "label", dim=DIM, rounds=3
    )
    assert len(losses) == 4  # pre-round losses + final averaged weights
    assert all(b <= a for a, b in zip(losses, losses[1:])), losses
    row = QUERIES["ml_train_iter"](spark, sf_dir).collect()[0]
    assert row["mse_monotone"] and row["mse_improved"], tuple(row)


def test_dedup_minhash_recall(spark, sf_dir):
    """Deep check behind the key's recall_ok flag: the raw candidate
    pairs from the LSH pipeline really cover ≥ 80% of the planted
    near-dups."""
    from pyspark_caffe_spark import textops
    from pyspark_caffe_spark.queries.llm import _perturbed_docs

    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    pairs = {
        (r["id_a"], r["id_b"])
        for r in textops.minhash_dedup_pairs(
            docs, "text", "doc_id", num_hashes=32, bands=8, shingle_k=5
        ).collect()
    }
    planted = {(i, i + 1000000) for i in range(50)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.8, f"minhash recall {recall}"
    row = QUERIES["dedup_minhash"](spark, sf_dir).collect()[0]
    assert row["recall_ok"], tuple(row)


def test_dedup_simhash_recall(spark, sf_dir):
    from pyspark_caffe_spark.queries.llm import _perturbed_docs, _simhash_pairs

    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    pairs = {(r["id_a"], r["id_b"]) for r in _simhash_pairs(docs).collect()}
    planted = {(i, i + 1000000) for i in range(50)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.8, f"simhash recall {recall}"
    row = QUERIES["dedup_simhash"](spark, sf_dir).collect()[0]
    assert row["recall_ok"], tuple(row)


def test_sim_knn_lsh_recall(spark, sf_dir):
    """Deep check behind the key's recall_ok flag: MLlib LSH candidate
    pairs cover ≥ 80% of the exact cosine ≥ 0.4 pairs."""
    from pyspark_caffe_spark.queries.similarity import _mllib_lsh_pairs
    from pyspark_caffe_spark.tables import load_embeddings

    exact = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["sim_threshold_join"](spark, sf_dir).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in _mllib_lsh_pairs(load_embeddings(spark, sf_dir)).collect()
    }
    assert exact, "exact threshold join returned no pairs - vacuous recall test"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"lsh recall {recall} over {len(exact)} exact pairs"
    row = QUERIES["sim_knn_lsh"](spark, sf_dir).collect()[0]
    assert row["recall_ok"] and row["n_true_pairs"] == len(exact), tuple(row)


def test_sim_lsh_bucketed(spark, sf_dir):
    from pyspark_caffe_spark import vecops
    from pyspark_caffe_spark.queries.similarity import LSH_PLANES
    from pyspark_caffe_spark.tables import load_embeddings

    sizes = (
        vecops.lsh_bucket(load_embeddings(spark, sf_dir), LSH_PLANES)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
        .collect()
    )
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vectors"] for r in sizes) == n
    assert all(0 <= r["bucket"] <= 255 for r in sizes)
    row = QUERIES["sim_lsh_bucketed"](spark, sf_dir).collect()[0]
    assert row["buckets_ok"] and row["n_vectors_total"] == n, tuple(row)


def test_text_ngram_hash(spark, sf_dir):
    out = QUERIES["text_ngram_hash"](spark, sf_dir)
    bad = out.join(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.greatest(F.size(F.split("text", " ")) - 4, F.lit(1)).alias("expected"),
        ),
        "doc_id",
    ).filter(F.col("n_shingles") != F.col("expected"))
    assert bad.count() == 0


def test_text_fingerprint(spark, sf_dir):
    """Deep check behind the key's fp_injective flag: the 128-bit
    fingerprints every exact-dedup operator keys on are collision-free
    on the fixture corpus (no duplicate texts)."""
    from pyspark_caffe_spark import textops

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    fps = docs.select(textops.fingerprint("text").alias("fp"))
    assert fps.distinct().count() == n
    out = QUERIES["text_fingerprint"](spark, sf_dir)
    assert out.count() == n
    assert out.filter(~F.col("fp_injective")).count() == 0


def test_stream_watermark_late_drops(spark, sf_dir):
    out = QUERIES["stream_watermark_late"](spark, sf_dir).collect()
    assert out, "watermark stream produced no rows"
    # the straggler guarantee is the in-plan flag, computed over the
    # FULL drained output before the deterministic >= Jan-3 projection
    assert all(r["stragglers_dropped"] for r in out), (
        "late (pre-cutoff) windows should have been dropped by the watermark"
    )
    assert all(r["flushed_exact"] for r in out), (
        "on-time windows must flush with exact counts"
    )
    cutoff = datetime.datetime(2024, 1, 3)
    assert min(r["ws"] for r in out) >= cutoff


def test_ml_predict_class_matches_numpy(spark, sf_dir):
    """Value-level check of the classifier (ml_predict_join itself is
    rows-only): argmax on a collected sample must equal numpy's."""
    import numpy as np
    from pyspark_caffe_spark.model import predict_class
    from pyspark_caffe_spark.queries.ml import CLASSIFIER

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = predict_class(emb, CLASSIFIER, "embedding").select("embedding", "pred").collect()
    assert rows
    for r in rows:
        want = int(np.argmax(CLASSIFIER.forward(np.array(r["embedding"], dtype=np.float64))))
        assert r["pred"] == want


def test_agg_hll_rollup(spark, sf_dir):
    """Deep check behind the key's within_tol flag: the rolled-up
    union-of-daily-sketches estimate really lands within 5% of exact."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    approx = {
        r["event_type"]: r["approx_users"]
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= 0.05 * n, f"{t}: approx {approx[t]} vs exact {n}"
    assert all(
        r["within_tol"] for r in QUERIES["agg_hll_rollup"](spark, sf_dir).collect()
    )


def test_dedup_candidate_verify(spark, sf_dir):
    """Verified set == exact jaccard pairs restricted to LSH candidates;
    recall ≥ 0.9 of ALL true pairs (16 bands of 2 rows collide often at
    J≥0.5)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in QUERIES["dedup_candidate_verify"](spark, sf_dir).collect()
    }
    assert set(verified) <= set(exact), "verify must never pass a non-true pair"
    for pair, j in verified.items():
        assert abs(j - exact[pair]) < 1e-9
    recall = len(verified) / len(exact)
    assert recall >= 0.9, f"candidate recall {recall} over {len(exact)} true pairs"
    # Completeness guard for the key's FULL oracle (exact J>=0.5 edge
    # set): the oracle is only valid while LSH misses NO true edge on
    # the fixtures.  The pipeline is fully deterministic (fixed
    # xxhash64 minhashes, no run seed), so set equality either holds
    # or fails reproducibly — assert it HERE (loudly, naming the
    # missed pairs) so a fixture/SF change that plants an edge below
    # the banding's reach surfaces as a clear local failure instead of
    # a mysterious driver red.  (Current fixture min edge is J=0.75,
    # where 16-band/2-row miss probability over a random hash family
    # is ~2e-6/edge; the realized hash family captures all edges.)
    missed = set(exact) - set(verified)
    assert not missed, (
        f"LSH missed true edges {sorted(missed)}: dedup_candidate_verify's "
        "exact-edge oracle is no longer complete — restrict the oracle to "
        "candidates∩exact or raise the band count"
    )
    # Fixture-MARGIN guard (round-6 verdict #2): the set-equality above
    # proves today's realized hash family catches everything, but the
    # oracle stays SAFE only while every true edge sits well above the
    # J=0.5 decision boundary, where banding recall is near-certain.
    # Floor 0.7: 16-band/2-row miss probability (1-J²)^16 ≤ 2.1e-5 per
    # edge (vs 7.9e-4 at J=0.6 — two orders worse).  A fixture or SF
    # change that plants a borderline edge now fails HERE with the
    # offending pair named, before it can turn the driver key red.
    min_pair, min_j = min(exact.items(), key=lambda kv: kv[1])
    assert min_j >= 0.7, (
        f"fixture margin eroded: true edge {min_pair} has J={min_j} < 0.7 — "
        "LSH miss probability is no longer negligible; strengthen the "
        "perturbation or restrict dedup_candidate_verify's oracle to "
        "candidates∩exact"
    )


def test_agg_approx_quantile(spark, sf_dir):
    """Deep check behind the key's within_tol flag: raw sketch
    percentiles really land within 1% of the group's value range."""
    both = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("a50"),
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("a90"),
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.9)).alias("p90"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    assert both
    for et, r in both.items():
        tol = 0.01 * (r["hi"] - r["lo"])
        assert abs(r["a50"] - r["p50"]) <= tol, (et, r["a50"], r["p50"])
        assert abs(r["a90"] - r["p90"]) <= tol, (et, r["a90"], r["p90"])
    assert all(
        r["within_tol"] for r in QUERIES["agg_approx_quantile"](spark, sf_dir).collect()
    )


def test_text_chunk_reconstruction(spark, sf_dir):
    """Stride-24/window-32 chunking must tile every document: chunk 0
    plus the last 8-token-trimmed tail of each later chunk rebuilds the
    original token stream exactly (oracle checks values; this checks
    the chunking geometry itself)."""
    chunks = {}
    for r in QUERIES["text_chunk"](spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(chunks) == set(docs)
    for doc_id, text in docs.items():
        got = chunks[doc_id]
        toks = []
        for i in sorted(got):
            ctoks = got[i].split(" ")
            assert len(ctoks) <= 32, (doc_id, i)
            toks.extend(ctoks if i == 0 else ctoks[8:])
        assert toks == text.split(" "), doc_id


def test_agg_hll_sketch_merge(spark, sf_dir):
    """Merged daily sketches must equal a direct one-pass sketch
    EXACTLY (HLL union is register-wise max — a deterministic
    identity, not an approximation), and land within ±5% of exact.
    Deep check behind the key's in-plan merged_eq_direct/within_tol
    flags."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = {
        r["event_type"]: r["m"]
        for r in daily.groupBy("event_type")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("m"))
        .collect()
    }
    direct = {
        r["event_type"]: r["direct"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("direct"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert merged == direct, "sketch merge must be lossless vs one-pass sketch"
    for t, n in exact.items():
        assert abs(merged[t] - n) <= 0.05 * n, f"{t}: {merged[t]} vs exact {n}"
    rows = QUERIES["agg_hll_sketch_merge"](spark, sf_dir).collect()
    assert rows and all(r["merged_eq_direct"] and r["within_tol"] for r in rows)


def test_pca_variance_identity_is_discriminative():
    """ml_pca_project's var_matches_eig_ok flag rests on Var(Xv_k)=λ_k.
    Prove the identity is DISCRIMINATIVE, not vacuously true: on synth
    data it holds for the true eigenvectors and FAILS for a perturbed
    basis, at the same tolerance the key uses."""
    import numpy as np

    rng = np.random.RandomState(7)
    x = rng.randn(500, 16) * np.linspace(3, 0.1, 16)  # anisotropic
    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:4]
    lam, comps = eigval[order], eigvec[:, order].T
    tol = 1e-6 * lam[0]

    proj = (x - mean) @ comps.T
    good = np.abs(proj.var(axis=0) - lam)
    assert np.all(good <= tol)

    # swap two components: projections no longer match THEIR eigenvalues
    bad = comps[[1, 0, 2, 3]]
    proj_bad = (x - mean) @ bad.T
    assert np.max(np.abs(proj_bad.var(axis=0) - lam)) > tol


def test_pca_flags_true_at_small_sf(spark):
    from pyspark_caffe_spark.queries import QUERIES

    rows = QUERIES["ml_pca_project"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.eig_sorted_ok and r.ortho_ok and r.var_matches_eig_ok


def test_importance_sample_ht_unbiased(spark):
    """corpus_importance_sample's ips_weight column is the inverse-
    propensity correction: the Horvitz-Thompson estimate
    Σ_kept(1000/p_permille) must recover the TRUE corpus size — the
    property that makes downstream token counts unbiased.  Measured
    rel-err ≈ 0.4%; assert within 10% (hash-gate sampling noise)."""
    from pyspark_caffe_spark.queries import QUERIES

    df = QUERIES["corpus_importance_sample"](spark, "/root/testdata/sf0.01")
    est = df.agg(F.sum("ips_weight")).collect()[0][0]
    assert abs(est - 500) / 500 < 0.10


def test_user_similarity_degenerate_sequences(spark, tmp_path):
    """End-to-end on a crafted fixture with 1-, 2-, and 3-event users:
    the trigram builder must emit EMPTY sets below 3 events (Spark's
    F.sequence descends when start > stop — unguarded, element_at(s,0)
    throws) and the result must still match the DuckDB oracle."""
    import duckdb
    import pandas as pd

    from pyspark_caffe_spark.queries import ORACLES, QUERIES

    rows = []
    eid = 0
    # users 0..3 with 1, 2, 3, 6 events respectively
    for uid, n in [(0, 1), (1, 2), (2, 3), (3, 6)]:
        for j in range(n):
            rows.append(
                {
                    "event_id": eid,
                    "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=j),
                    "user_id": uid,
                    "event_type": ["view", "click", "purchase"][j % 3],
                    "value": 1.0,
                    "props": "{}",
                }
            )
            eid += 1
    pdf = pd.DataFrame(rows)
    sf = tmp_path / "degenerate_sf"
    sf.mkdir()
    pdf.to_parquet(sf / "events.parquet")

    got = sorted(
        tuple(r) for r in QUERIES["events_user_similarity"](spark, str(sf)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLES["events_user_similarity"]).fetchall())
    assert got == want
    # users 2 and 3 share the view>click>purchase trigram
    assert any(r[0] == 2 and r[1] == 3 for r in got)
