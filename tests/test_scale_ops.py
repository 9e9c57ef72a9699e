"""Scale-pattern operator invariants: bucketed join plans shuffle-free,
IVF recall vs exact."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from pyspark_caffe_spark.queries import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    df = QUERIES["sink_bucketed"](spark, sf_dir)
    plan = _plan(df)
    join_part = plan.split("HashAggregate")[0]  # plan above the agg
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # the join inputs must come straight from the bucketed scans —
    # no shuffle exchange between scan and join
    before_agg = join_part
    assert "Exchange hashpartitioning" not in before_agg, before_agg


def _total_spilled(spark) -> int:
    """Sum memory+disk spill bytes over all completed stages, read from
    the JVM AppStatusStore (works with spark.ui.enabled=false)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    # Spark 4 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus)
    seq = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    total = 0
    for i in range(seq.size()):
        s = seq.apply(i)
        total += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return total


def test_spill_path_completes(spark, sf_dir):
    """100 TB 'data larger than executor memory' evidence: force the
    UnsafeExternalSorter-backed operator buffers (window frame and
    sort-merge-join match buffer) to spill at tiny thresholds and
    assert (a) results are IDENTICAL to the in-memory run and (b) the
    stage metrics report real spill bytes.  The thresholds are
    session-settable SQLConf, so this drives the exact spill-and-merge
    code a memory-constrained executor takes, without needing to OOM
    the shared test JVM."""
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark_caffe_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # window: ~20k-row frames per l_returnflag; rank arithmetic keeps
    # the checked value integer-exact across runs
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    win_q = li.select(F.row_number().over(w).alias("rn"))
    # SMJ: self-join on l_partkey (~30 matches/key) with broadcast off
    # so the buffered side's per-key group exceeds the tiny threshold
    def smj_q():
        a, b = li.alias("a"), li.alias("b")
        return (
            a.join(b, F.col("a.l_partkey") == F.col("b.l_partkey"))
            .groupBy()
            .count()
        )

    baseline_win = win_q.agg(F.sum("rn").alias("s")).collect()[0]["s"]
    no_bcast = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    # thresholds chosen so the heavy tail spills, not every group: each
    # spilled group's UnsafeSorterSpillReader pins MB-scale read-ahead
    # buffers until task end, so "spill everything" (threshold 8)
    # OOMs the shared JVM from reader buffers alone — ~60 of the 2000
    # l_partkey groups exceed 40 rows, giving real spill traffic with
    # bounded reader overhead
    tiny_buffers = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "128",
        "spark.sql.windowExec.buffer.spill.threshold": "256",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold": "40",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "40",
    }
    old = {k: spark.conf.get(k, None) for k in {**no_bcast, **tiny_buffers}}
    try:
        for k, v in no_bcast.items():
            spark.conf.set(k, v)
        # baseline SMJ: same plan (no broadcast), DEFAULT buffers
        baseline_smj = smj_q().collect()[0]["count"]
        before = _total_spilled(spark)
        for k, v in tiny_buffers.items():
            spark.conf.set(k, v)
        forced_win = win_q.agg(F.sum("rn").alias("s")).collect()[0]["s"]
        forced_smj = smj_q().collect()[0]["count"]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert forced_win == baseline_win
    assert forced_smj == baseline_smj
    # the status listener drains its event bus asynchronously — poll
    for _ in range(40):
        if _total_spilled(spark) > before:
            break
        _time.sleep(0.25)
    spilled = _total_spilled(spark) - before
    assert spilled > 0, "forced-threshold run recorded no spill bytes"


def test_ivf_recall(spark, sf_dir):
    """The key's in-plan recall flag (IVF top-10 vs exact top-10 of the
    same query) must hold; corpus size must match the table."""
    from pyspark_caffe_spark.tables import load_table

    row = QUERIES["sim_knn_ivf"](spark, sf_dir).collect()[0]
    assert row["recall_ok"], tuple(row)
    assert row["k"] == 10
    assert row["n_corpus"] == load_table(spark, sf_dir, "embeddings").count()


def test_ml_train_mllib(spark, sf_dir):
    """Deep check behind the key's flags: re-run the fit and assert the
    raw objective history / accuracy, not just the booleans."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F
    from pyspark_caffe_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    model = LogisticRegression(maxIter=8, regParam=0.01, elasticNetParam=0.0).fit(emb)
    hist = [float(x) for x in model.summary.objectiveHistory]
    assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:])), "objective must not increase"
    assert float(model.summary.accuracy) > 0.15, "accuracy not above random baseline"
    row = QUERIES["ml_train_mllib"](spark, sf_dir).collect()[0]
    assert row["objective_monotone"] and row["objective_improved"] and row["acc_above_floor"]


def test_ml_kmeans(spark, sf_dir):
    from pyspark_caffe_spark.tables import load_table

    row = QUERIES["ml_kmeans"](spark, sf_dir).collect()[0]
    assert row["clusters_ok"] and row["sizes_sum_ok"] and row["cost_improves"], tuple(row)
    assert row["n_vectors"] == load_table(spark, sf_dir, "embeddings").count()


def test_sink_sized(spark, sf_dir):
    from pyspark_caffe_spark.tables import load_table
    rows = QUERIES["sink_sized"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "lineitem").count()
    assert [r["pb"] for r in rows] == [0, 1, 2, 3]  # one range dir per bucket
    assert sum(r["n_rows"] for r in rows) == total
    # maxRecordsPerFile cap: rows per bucket never exceed files * cap
    assert all(r["n_rows"] <= r["n_files"] * 100_000 for r in rows)
    rows2 = QUERIES["sink_sized"](spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]  # deterministic


def test_sample_stratified(spark, sf_dir):
    from pyspark_caffe_spark.tables import load_table
    out = QUERIES["sample_stratified"](spark, sf_dir)
    counts = {r["event_type"]: r["n"] for r in out.groupBy("event_type").agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    full = {r["event_type"]: r["n"] for r in load_table(spark, sf_dir, "events").groupBy("event_type").agg(__import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert counts["purchase"] == full["purchase"]  # fraction 1.0 keeps all
    assert counts["error"] == full["error"]
    assert 0.1 * full["click"] < counts["click"] < 0.3 * full["click"]
    out2 = QUERIES["sample_stratified"](spark, sf_dir)
    assert out.count() == out2.count()  # seeded determinism


def test_sink_compact_collapses_files(spark, sf_dir):
    import os

    from pyspark_caffe_spark.queries.relational import _scratch

    n = QUERIES["sink_compact"](spark, sf_dir).count()
    tag = os.path.basename(sf_dir.rstrip("/"))
    count_parts = lambda p: sum(
        1 for f in os.listdir(p) if f.endswith(".parquet")
    )
    n_in = count_parts(_scratch(f"compact_in_{tag}"))
    n_out = count_parts(_scratch(f"compact_out_{tag}"))
    assert n_in == 64
    # sf0.01 orders is ~hundreds of KB: everything fits one 16 MiB target
    assert n_out < n_in and n_out <= 4, (n_in, n_out)
    assert n > 0


def test_pagerank_mass_conserved(spark, sf_dir):
    from pyspark.sql import functions as F

    df = QUERIES["graph_pagerank"](spark, sf_dir)
    row = df.agg(
        F.count("*").alias("n"), F.sum("pagerank").alias("mass")
    ).collect()[0]
    # both edge directions exist => no dangling nodes => sum(rank) == N
    assert abs(row["mass"] - row["n"]) / row["n"] < 1e-3, row


def test_sink_zorder_clusters_both_dims(spark, sf_dir):
    """The point of z-order vs a linear sort: EVERY output file covers a
    narrow range of BOTH clustered columns.  Assert the mean per-file
    min/max span is well under the global span on each dimension — a
    linear sort by o_custkey would leave o_totalprice spans at ~100% of
    global in every file."""
    import os

    import pyarrow.parquet as pq

    from pyspark_caffe_spark.queries.relational import _scratch

    QUERIES["sink_zorder"](spark, sf_dir).collect()  # materialize the sink
    path = _scratch("sink_zorder_" + os.path.basename(sf_dir.rstrip("/")))
    spans = {"o_custkey": [], "o_totalprice": []}
    globals_ = {"o_custkey": [None, None], "o_totalprice": [None, None]}
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        schema_names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        for col in spans:
            idx = schema_names.index(col)
            lo = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
            hi = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
            spans[col].append(hi - lo)
            g = globals_[col]
            g[0] = lo if g[0] is None else min(g[0], lo)
            g[1] = hi if g[1] is None else max(g[1], hi)
    assert len(spans["o_custkey"]) >= 4, "expected multiple z-ordered files"
    for col in spans:
        global_span = globals_[col][1] - globals_[col][0]
        mean_span = sum(spans[col]) / len(spans[col])
        assert mean_span < 0.6 * global_span, (
            f"{col}: mean per-file span {mean_span} vs global {global_span} — "
            "z-order clustering not effective on this dimension"
        )


def test_ivf_batch_recall_independent(spark, sf_dir):
    """Deep check behind sim_knn_ivf_batch's per-query flags: rebuild
    the index OUTSIDE the query (same deterministic training sample,
    same Lloyd, same probe logic in plain numpy), brute-force every
    query's exact top-10 from the parquet, and assert the ≥9/10
    overlap holds per query — proving the in-plan booleans describe
    real recall, not a vacuous comparison.  Then assert the key's own
    output carries exactly those queries, all flagged true."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_caffe_spark.queries.scale_ops import _lloyd_spherical
    from pyspark_caffe_spark.tables import load_table

    nlist, nprobe, k, m_assign = 16, 10, 10, 3
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.array(r.emb) for r in rows])
    train = (
        emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(2)) == 0)
        .orderBy("vec_id").limit(4096).collect()
    )
    cents = _lloyd_spherical(np.stack([np.array(r.emb) for r in train]), nlist)

    qsel = (ids % 20 == 3) & (ids < 2000)
    Q, qid, C, cid = X[qsel], ids[qsel], X[~qsel], ids[~qsel]
    pr = np.argsort(-(Q @ cents.T), axis=1)[:, :nprobe]
    pmask = np.zeros((len(Q), nlist), bool)
    np.put_along_axis(pmask, pr, True, axis=1)
    topm = np.argsort(-(C @ cents.T), axis=1)[:, :m_assign]
    cand = pmask[:, topm].any(axis=2)
    scores = np.round(Q @ C.T, 6)
    for qi in range(len(Q)):
        col = scores[qi]
        exact = set(cid[np.lexsort((cid, -col))[:k]].tolist())
        ci = np.nonzero(cand[qi])[0]
        ivf = set(cid[ci][np.lexsort((cid[ci], -col[ci]))[:k]].tolist())
        assert len(exact & ivf) >= 9, (
            f"query {qid[qi]}: independent recall "
            f"{len(exact & ivf)}/10 below the in-plan bar"
        )

    out = {r.qid: r for r in QUERIES["sim_knn_ivf_batch"](spark, sf_dir).collect()}
    assert sorted(out) == sorted(qid.tolist())
    assert all(r.recall_ok and r.k == 10 for r in out.values())


def test_ann_index_persisted_and_serve_prunes_partitions(spark, sf_dir):
    """Round-9 verdict #3: the IVF index is built ONCE on disk and the
    serve path answers from it.  Three claims checked:

    * sink_ann_index's audit row is all-green (full coverage, valid
      cells) and the parquet artifacts exist on disk with the
      cell-partitioned layout;
    * sim_knn_ivf_serve's plan PARTITION-PRUNES the postings scan —
      the cell isin filter must reach PartitionFilters, i.e. unprobed
      cell directories are never opened;
    * every query row comes back with recall_ok (the ≥0.9-recall
      in-plan flag vs the exact baseline)."""
    import os

    from pyspark_caffe_spark.queries.scale_ops import _ann_index_paths

    audit = QUERIES["sink_ann_index"](spark, sf_dir).collect()[0]
    assert audit.coverage_ok and audit.cells_ok
    assert audit.n_postings == audit.n_vectors * audit.postings_per_vector
    cpath, ppath, mpath = _ann_index_paths(sf_dir)
    assert os.path.isdir(cpath) and os.path.isdir(mpath)
    cells = [d for d in os.listdir(ppath) if d.startswith("cell=")]
    assert len(cells) > 1, "postings not partitioned by cell on disk"

    served = QUERIES["sim_knn_ivf_serve"](spark, sf_dir)
    plan = _plan(served)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200], (
        "postings scan is not partition-pruned:\n" + plan
    )
    rows = served.collect()
    assert rows and all(r.recall_ok and r.k == 10 for r in rows)


def test_ann_index_stale_version_refuses_to_serve(spark, sf_dir):
    """Round-10 verdict #4: the serve path must REFUSE an index whose
    on-disk version stamp disagrees with the running code — a scratch
    dir surviving a code upgrade (different geometry constants,
    postings layout, centroid dtype) must raise with a rebuild route,
    never silently serve stale postings.  Checks all three refusals:
    stale writer_version, centroid-table drift vs the geometry hash,
    and a missing meta table (pre-stamp index)."""
    import shutil

    import pytest as _pytest

    from pyspark_caffe_spark.queries.scale_ops import (
        _ann_index_paths,
        _build_ann_index,
        _serve_from_ann_index,
    )

    _build_ann_index(spark, sf_dir)
    cpath, ppath, mpath = _ann_index_paths(sf_dir)

    # (a) stale writer_version
    meta = spark.read.parquet(mpath)
    stale = meta.withColumn("writer_version", F.lit(1).cast("int"))
    stale.write.mode("overwrite").parquet(mpath + "_stale")
    shutil.rmtree(mpath)
    shutil.move(mpath + "_stale", mpath)
    with _pytest.raises(ValueError, match="writer_version"):
        _serve_from_ann_index(spark, sf_dir, with_recall=False)

    # (b) right version, drifted centroids (geometry hash mismatch)
    _build_ann_index(spark, sf_dir)
    cents = spark.read.parquet(cpath)
    drifted = cents.withColumn(
        "centroid", F.transform("centroid", lambda x: x * F.lit(0.5))
    )
    drifted.write.mode("overwrite").parquet(cpath + "_drift")
    shutil.rmtree(cpath)
    shutil.move(cpath + "_drift", cpath)
    with _pytest.raises(ValueError, match="geometry drift"):
        _serve_from_ann_index(spark, sf_dir, with_recall=False)

    # (c) missing meta entirely (an index written before stamping)
    _build_ann_index(spark, sf_dir)
    shutil.rmtree(mpath)
    with _pytest.raises(FileNotFoundError, match="meta"):
        _serve_from_ann_index(spark, sf_dir, with_recall=False)

    # (d) corpus drift: geometry validates but the dataset under the
    # tag changed since the build — the reuse path (validate_corpus)
    # must refuse; the non-validating path stays permissive by design
    _build_ann_index(spark, sf_dir)
    meta2 = spark.read.parquet(mpath)
    drifted_meta = meta2.withColumn(
        "corpus_fp", F.concat(F.col("corpus_fp"), F.lit("1"))
    )
    drifted_meta.write.mode("overwrite").parquet(mpath + "_cd")
    shutil.rmtree(mpath)
    shutil.move(mpath + "_cd", mpath)
    with _pytest.raises(ValueError, match="corpus drift"):
        _serve_from_ann_index(
            spark, sf_dir, with_recall=False, validate_corpus=True
        )
    assert (
        _serve_from_ann_index(spark, sf_dir, with_recall=False).count() > 0
    ), "non-validating serve should not consult the corpus fingerprint"

    # leave a healthy index behind for any later test in the session
    _build_ann_index(spark, sf_dir)
    assert _serve_from_ann_index(
        spark, sf_dir, with_recall=False, validate_corpus=True
    ).count() > 0


def test_ann_corpus_validation_cached_per_generation(spark, sf_dir, monkeypatch):
    """Round-10 verdict #4 follow-through: the reuse-path corpus
    fingerprint guard runs ONCE per (index generation, dataset
    generation) — repeated serves of an unchanged pair skip the
    O(corpus) vec_id scan (the steady-state serve is guard-free),
    while a REBUILT index is a new generation (meta stat signature
    changes) and forces exactly one fresh validation scan."""
    import pyspark_caffe_spark.queries.scale_ops as so

    so._build_ann_index(spark, sf_dir)
    so._ANN_VALIDATED.clear()
    calls = {"n": 0}
    real = so._ann_corpus_fingerprint

    def counting(emb):
        calls["n"] += 1
        return real(emb)

    monkeypatch.setattr(so, "_ann_corpus_fingerprint", counting)
    kw = dict(with_recall=False, validate_corpus=True)
    assert so._serve_from_ann_index(spark, sf_dir, **kw).count() > 0
    assert calls["n"] == 1, "first guarded serve must scan the corpus"
    assert so._serve_from_ann_index(spark, sf_dir, **kw).count() > 0
    assert calls["n"] == 1, "unchanged (index, dataset) pair must not re-scan"
    # rebuild rewrites meta → new generation: since round 18 the
    # build's stamp fingerprint rides the postings-write pass via
    # observe (no separate _ann_corpus_fingerprint scan), so only the
    # next guarded serve re-validates — exactly once
    so._build_ann_index(spark, sf_dir)
    assert calls["n"] == 1, "build must not run a separate fingerprint scan"
    assert so._serve_from_ann_index(spark, sf_dir, **kw).count() > 0
    assert calls["n"] == 2, "new index generation must re-validate exactly once"


def test_cc_planted_chain_logarithmic_rounds(spark):
    """Min-label propagation is O(diameter) shuffles — a planted
    10k-link chain would take 10k hops.  Alternating large-star/
    small-star, the package's one connected-components algorithm
    (graph_connected_components and dedup_clusters), must label the
    chain in ~log rounds: assert rounds <= 2*ceil(log2(n)) + 2 and the
    labels are exactly {0 -> everyone} (one component, min label 0)."""
    import math

    from pyspark_caffe_spark.queries.scale_ops import _cc_large_small_star

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    stars, rounds = _cc_large_small_star(edges)
    bound = 2 * math.ceil(math.log2(n)) + 2
    assert rounds <= bound, f"{rounds} rounds on a {n}-chain (bound {bound})"
    rows = stars.collect()
    assert len(rows) == n - 1
    assert all(r.u == 0 for r in rows), "chain did not collapse to one root"
    assert sorted(r.v for r in rows) == list(range(1, n))


def test_cc_star_and_disjoint_components(spark):
    """Large/small-star edge cases: a hub star (already a fixpoint
    shape, high degree), two disjoint components, and an isolated
    self-contained pair — labels must be exact minima per component."""
    from pyspark_caffe_spark.queries.scale_ops import _cc_large_small_star

    edges = spark.createDataFrame(
        # hub 100 with spokes, a 3-cycle {1,2,3}, a pair {50,51}
        [(100, s) for s in (101, 102, 103, 104)]
        + [(1, 2), (2, 3), (3, 1), (50, 51)],
        "u long, v long",
    )
    stars, rounds = _cc_large_small_star(edges)
    got = {}
    for r in stars.collect():
        got.setdefault(r.u, set()).add(r.v)
    assert got == {
        100: {101, 102, 103, 104},
        1: {2, 3},
        50: {51},
    }, got
    assert rounds <= 6


def test_dedup_clusters_long_chain(spark, sf_dir, monkeypatch):
    """dedup_clusters labels components with the star algorithm, so a
    near-dup chain longer than any fixed hop cap is still one cluster:
    a 30-link chain 0-1-...-30 is one cluster rooted at 0 with 31
    members (min-label propagation capped at 20 hops raised here)."""
    from pyspark_caffe_spark import textops
    from pyspark_caffe_spark.queries import llm

    monkeypatch.setattr(
        textops,
        "jaccard_pairs",
        lambda *a, **k: spark.range(30).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        ),
    )
    rows = llm.dedup_clusters(spark, sf_dir).collect()
    assert [(r.cluster_id, r.cluster_size) for r in rows] == [(0, 31)]


def test_triangle_count_bruteforce(spark, sf_dir):
    """Independent check behind graph_triangle_count's oracle: rebuild
    the SAME derived graph driver-side (bounded: <= ~20k gated edges on
    400 residue nodes) and count each node's triangles by brute-force
    set intersection; must match the key exactly.  Also locks the plan:
    no CartesianProduct, and the degree-orientation join broadcasts."""
    from itertools import combinations

    from pyspark_caffe_spark.tables import lcg_hash, load_table

    li = load_table(spark, sf_dir, "lineitem")
    a = F.pmod(F.col("l_partkey"), F.lit(400))
    b = F.pmod(F.col("l_suppkey"), F.lit(400))
    pairs = li.select(a.alias("a"), b.alias("b")).filter(F.col("a") != F.col("b"))
    cell = F.least("u", "v") * 400 + F.greatest("u", "v")
    edges = [
        (r.u, r.v)
        for r in pairs.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .filter(F.pmod(lcg_hash(cell), F.lit(4)) == 0)
        .collect()
    ]
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want: dict[int, int] = {}
    for u, v in edges:
        for w in adj[u] & adj[v]:
            for n in (u, v, w):
                want[n] = want.get(n, 0) + 1
    want = {n: c // 3 for n, c in want.items()}  # each triangle seen via 3 edges

    df = QUERIES["graph_triangle_count"](spark, sf_dir)
    got = {r.node: r.n_triangles for r in df.collect()}
    assert sum(got.values()) % 3 == 0
    assert sum(got.values()) > 0, "fixture graph has no triangles — gate too tight"
    for n, c in got.items():
        assert want.get(n, 0) == c, (n, c, want.get(n, 0))

    plan = _plan(df)
    # round-11: the degree-orientation joins carry NO broadcast hint
    # (a pinned |V|-row broadcast would OOM a 100 TB graph); all joins
    # are equi-joins, so the plan must never degrade to a nested-loop
    # or cartesian shape — AQE picks broadcast at runtime when the
    # measured side is small, without pinning it into the plan.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "degree orientation must stay an equi-join:\n" + plan
    )


def test_ivf_refresh_delta_actually_served(spark, sf_dir):
    """sim_knn_ivf_refresh's best_cos_not_worse flag could pass
    vacuously if appended vectors never surfaced in any top-k.  Prove
    the refresh is OBSERVABLE: after the key runs, serve the refreshed
    index directly and assert (a) delta vectors (vec_id % 10 == 7)
    appear among served results, (b) the live postings layout (base
    generation + append segments) actually grew by m x |delta| rows,
    and (c) the key's flags are all green."""
    import os

    from pyspark_caffe_spark.queries.scale_ops import (
        _ann_index_paths,
        _serve_from_ann_index,
    )
    from pyspark_caffe_spark.tables import load_table

    rows = QUERIES["sim_knn_ivf_refresh"](spark, sf_dir).collect()
    assert rows and all(r.n_results == 10 and r.best_cos_not_worse for r in rows)

    served = _serve_from_ann_index(
        spark, sf_dir, with_recall=False, suffix="_refresh"
    )
    n_delta_hits = served.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 7).count()
    assert n_delta_hits > 0, "no appended vector ever surfaced in a top-k"

    import pyspark_caffe_spark.queries.scale_ops as so

    emb = load_table(spark, sf_dir, "embeddings")
    n_all = emb.count()
    n_delta = emb.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 7).count()
    _, ppath, mpath = _ann_index_paths(sf_dir, "_refresh")
    root = os.path.dirname(mpath)
    live = so._ann_live_paths(root)
    assert len(live) == 2, "one append day = base generation + ONE segment"
    n_postings = so._ann_read_postings(spark, live).count()
    assert n_postings == 3 * n_all, (n_postings, n_all, n_delta)

    # round-14 (segment append): meta keeps the BASE stamp — the
    # append commits its fingerprint delta through the manifest, never
    # by rewriting meta (no restamp write exists to tear) — and the
    # DERIVED stamp (meta + manifest deltas) describes the full
    # corpus, so a guarded serve must validate the appended index.
    # Cache cleared first: the key's own after-serve already validated
    # and cached this layout, which would make the assertion vacuous
    # (round-11 review finding) — this serve must re-run the actual
    # fingerprint comparison against the derived stamp.
    meta = spark.read.parquet(mpath).collect()[0]
    assert meta.corpus_n == n_all - n_delta, (meta.corpus_n, n_all, n_delta)
    eff_n, _eff_fp, _manifest = so._ann_effective_stamp(root, meta)
    assert eff_n == n_all, (eff_n, n_all)
    so._ANN_VALIDATED.clear()
    assert _serve_from_ann_index(
        spark, sf_dir, with_recall=False, suffix="_refresh", validate_corpus=True
    ).count() > 0, "appended refresh index spuriously refused"


def test_ann_index_compact_one_file_per_cell(spark, sf_dir):
    """sink_ann_index_compact's in-plan flags prove content identity
    and a strict file-count drop; this test pins the stronger layout
    contract the key's docstring sells: after compaction every cell
    directory holds EXACTLY ONE data file (repartition("cell") routes
    each cell wholly into one task), and the untouched meta stamp
    still VALIDATES on a guarded serve (compaction moves bytes, not
    content — it must never need a restamp)."""
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    row = QUERIES["sink_ann_index_compact"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.files_collapsed and row.stamp_still_valid
    assert row.n_postings == 3 * row.n_vectors

    _, ppath, _ = so._ann_index_paths(sf_dir, "_compact")
    for cell_dir in sorted(os.listdir(ppath)):
        if not cell_dir.startswith("cell="):
            continue
        data = [
            f
            for f in os.listdir(os.path.join(ppath, cell_dir))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        assert len(data) == 1, (cell_dir, data)

    # the stamp survived the rewrite: a guarded serve (cache cleared so
    # the fingerprint comparison actually runs) must NOT refuse
    so._ANN_VALIDATED.clear()
    assert so._serve_from_ann_index(
        spark, sf_dir, with_recall=False, suffix="_compact", validate_corpus=True
    ).count() > 0, "compacted index spuriously refused by the corpus guard"


def test_ann_compact_crash_windows_leave_servable_index(spark, sf_dir):
    """Round-11 verdict ask #3: the compact swap must have NO window
    with an unreadable index.  The commit point is the atomic pointer-
    file flip (_ann_manifest_commit); this test walks the swap manually
    and verifies a simulated crash at EVERY boundary leaves a serve
    that answers:

      crash 1 — rewrite generation fully written, pointer NOT flipped:
                serves the OLD generation (orphan is garbage);
      crash 2 — pointer flipped, superseded dir NOT yet deleted:
                serves the NEW generation;
      and a later compact garbage-collects the crash-1 orphan without
      ever reusing its generation number.
    """
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    suffix = "_crash"
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    assert os.path.basename(ppath) == "postings", "fresh build = base layout"

    baseline = (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
    )
    assert baseline > 0

    # --- crash 1: write-aside done, crash BEFORE the pointer flip ---
    orphan = os.path.join(root, "postings_gen1")
    (
        spark.read.parquet(ppath)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(orphan)
    )
    # no flip — resolution must still point at the base generation
    _, resolved, _ = so._ann_index_paths(sf_dir, suffix)
    assert resolved == ppath, "unflipped rewrite must be invisible"
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    ), "crash between write-aside and flip broke the serve path"

    # --- crash 2: pointer flipped, superseded dirs NOT deleted ---
    so._ann_manifest_commit(root, ("postings_gen1", 0, 0), ())
    _, resolved, _ = so._ann_index_paths(sf_dir, suffix)
    assert resolved == orphan, "flip must re-route resolution atomically"
    assert os.path.isdir(ppath), "test premise: old dir still on disk"
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    ), "crash between flip and cleanup broke the serve path"

    # --- a real compact from the crash-2 state: must pick gen2 (no
    # collision with the crash orphan's number) and GC both the stale
    # base dir and nothing else ---
    new_ppath = so._ann_compact_postings(spark, resolved)
    assert os.path.basename(new_ppath) == "postings_gen2"
    leftovers = sorted(
        n for n in os.listdir(root) if n == "postings" or n.startswith("postings_gen")
    )
    assert leftovers == ["postings_gen2"], leftovers
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    ), "post-compact generation does not serve"

    # pointer naming a vanished dir: falls back to base, serve fails
    # LOUD with the rebuild route (never silently serves nothing)
    import shutil

    shutil.rmtree(new_ppath)
    import pytest

    with pytest.raises(FileNotFoundError):
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)

    # a rebuild recovers from any of the above states
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    )
    assert not os.path.exists(os.path.join(root, so._ANN_GEN_POINTER)), (
        "rebuild must retire the generation pointer"
    )


def test_ann_pointer_fallback_chain(spark, sf_dir):
    """Round-12 verdict ask #4: the crash-walk covers the FLIP; this
    pins the MANUAL-DELETION fallback chain _ann_index_paths's
    docstring argues:

      (a) pointer naming a VANISHED generation while the base postings
          dir still exists → resolution falls back to base and the
          serve ANSWERS (a deleted generation must not brick an index
          whose base layout is intact);
      (b) an unreadable/garbage pointer → same base fallback;
      (c) pointer naming a vanished generation AND base gone → serve
          fails LOUD (FileNotFoundError with the rebuild route), never
          silently serves nothing.
    """
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so

    suffix = "_ptrfb"
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    assert os.path.basename(ppath) == "postings", "fresh build = base layout"
    baseline = (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
    )
    assert baseline > 0

    # (a) pointer → never-written generation, base intact: fall back
    with open(os.path.join(root, so._ANN_GEN_POINTER), "w") as f:
        f.write("postings_gen7\n")
    _, resolved, _ = so._ann_index_paths(sf_dir, suffix)
    assert resolved == ppath, "vanished-generation pointer must resolve to base"
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    ), "base fallback must serve the intact base layout"

    # (b) garbage pointer content (e.g. torn write on a pre-fsync fs):
    # basename() of junk is a non-dir name → same base fallback
    with open(os.path.join(root, so._ANN_GEN_POINTER), "w") as f:
        f.write("../../etc/passwd\0junk")
    _, resolved, _ = so._ann_index_paths(sf_dir, suffix)
    assert resolved == ppath, "garbage pointer must resolve to base"

    # (c) vanished generation AND no base: loud failure, no silent
    # empty serve
    with open(os.path.join(root, so._ANN_GEN_POINTER), "w") as f:
        f.write("postings_gen7\n")
    shutil.rmtree(ppath)
    with pytest.raises(FileNotFoundError):
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)

    # rebuild recovers and retires the dangling pointer
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    )
    assert not os.path.exists(os.path.join(root, so._ANN_GEN_POINTER))


def test_cc_hub_skew_bounded(spark):
    """Round-11 verdict ask #4: pin the docstring claim that a hot
    high-degree node "costs a skewed-key aggregate (AQE-splittable)
    rather than an OOM row" (scale_ops.py, _cc_large_small_star) —
    the chain test covers diameter; this covers SKEW, the other way a
    100 TB graph kills you.

    Plant a 50k-spoke star whose hub id is LARGER than every spoke
    (so the canonical set is NOT already the fixpoint: the hub is a
    50k-parent child and large-star must re-hook every spoke onto the
    min).  Assert the run completes with

      * rounds <= a small constant (skew must not stall convergence),
      * ZERO spill bytes (the hub's 50k-row key fits the skewed-key
        aggregate's memory — per-task input is bounded by map-side
        partial_min combine over narrow long pairs, never a single
        materialized adjacency row),
      * the exact star output: every node labeled with the component
        min (spoke 0).
    """
    from pyspark_caffe_spark.queries.scale_ops import _cc_large_small_star

    n = 50_000
    hub = 10_000_000  # larger than every spoke id
    edges = spark.range(n).select(F.col("id").alias("u"), F.lit(hub).alias("v"))
    spark.sparkContext._jvm.System.gc()  # settle metrics before measuring
    spilled_before = _total_spilled(spark)
    stars, rounds = _cc_large_small_star(edges)
    got = stars.agg(
        F.count("*").alias("n_edges"),
        F.min("u").alias("root_min"),
        F.max("u").alias("root_max"),
        F.countDistinct("v").alias("n_children"),
    ).collect()[0]
    # component = {0..n-1, hub}, min label 0 → n children, one root
    assert got["n_edges"] == n and got["n_children"] == n
    assert got["root_min"] == 0 and got["root_max"] == 0, "root must be the min"
    assert rounds <= 6, f"{rounds} rounds on a planted hub (skew stalled it?)"
    assert _total_spilled(spark) - spilled_before == 0, (
        "hub-skew round spilled: the skewed-key aggregate claim is broken"
    )
    # structural invariant the OOM-row claim rides on: rounds exchange
    # narrow (u, v) long pairs, never collected adjacency lists
    assert [f.dataType.simpleString() for f in stars.schema.fields] == [
        "bigint",
        "bigint",
    ]


def test_ann_compact_only_reuses_index_and_keeps_meta(spark, sf_dir):
    """sink_ann_index_compact_only (round-11 verdict ask #5: the
    amortized maintenance metric) must (a) REUSE a persisted valid
    _compact index — no rebuild, proven by the meta stamp's stat
    signature being byte-identical across the run — (b) advance the
    postings generation via the pointer (the crash-safe swap), (c)
    keep the one-file-per-cell layout, and (d) report content
    identity + stamp validity.  A second invocation must reuse again
    (meta is still byte-identical; the manifest's generation line
    changed, so the corpus guard re-runs one thin scan against the
    unchanged derived stamp and passes — round-14 segment manifest)."""
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    # lay down the ingest history + first compaction via the full verb
    QUERIES["sink_ann_index_compact"](spark, sf_dir).collect()
    _, ppath_before, mpath = so._ann_index_paths(sf_dir, "_compact")
    meta_sig_before = so._path_sig(mpath)

    row = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.stamp_still_valid
    assert row.n_postings == 3 * row.n_vectors

    _, ppath_after, _ = so._ann_index_paths(sf_dir, "_compact")
    assert ppath_after != ppath_before, "generation did not advance"
    assert not os.path.exists(ppath_before), "superseded generation not GC'd"
    assert so._path_sig(mpath) == meta_sig_before, (
        "compact_only restamped or rebuilt meta — it must move bytes only"
    )
    for cell_dir in sorted(os.listdir(ppath_after)):
        if not cell_dir.startswith("cell="):
            continue
        data = [
            f
            for f in os.listdir(os.path.join(ppath_after, cell_dir))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        assert len(data) == 1, (cell_dir, data)

    row2 = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row2.content_identical and row2.stamp_still_valid
    assert so._path_sig(mpath) == meta_sig_before


def test_ann_compact_only_refuses_geometry_crash_remnant(spark, sf_dir):
    """Round-12 review finding: compact_only's reuse gate must run the
    SAME centroids-vs-stamp check every serve runs — a crash remnant
    where a rebuild overwrote centroids but not yet postings/meta
    (new centroids, old meta whose corpus stamp still matches) must
    route to the REBUILD path, never be compacted and reported green.
    Observable: the rebuild rewrites meta (stat signature changes),
    where the healthy reuse path leaves meta untouched."""
    import pyspark_caffe_spark.queries.scale_ops as so

    QUERIES["sink_ann_index_compact"](spark, sf_dir).collect()
    cpath, _, mpath = so._ann_index_paths(sf_dir, "_compact")

    # simulate the crash remnant: different-geometry centroids under
    # the same path, meta/postings untouched
    cents = spark.read.parquet(cpath).collect()
    broken = [(int(r["cell"]), [v + 1.0 for v in r["centroid"]]) for r in cents]
    spark.createDataFrame(broken, "cell int, centroid array<double>").write.mode(
        "overwrite"
    ).parquet(cpath)
    so._ANN_VALIDATED.clear()
    meta_sig_broken = so._path_sig(mpath)

    row = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.stamp_still_valid
    assert so._path_sig(mpath) != meta_sig_broken, (
        "compact_only reused a geometry-inconsistent crash remnant "
        "instead of rebuilding"
    )


def test_ann_append_refuses_mixed_geometry_index(spark, sf_dir):
    """An append runs the same centroids-vs-stamp gate as a serve: on
    a crash remnant whose centroids no longer match the meta stamp,
    the delta would be assigned under the wrong centroids and its
    postings would sit in cells the probe math never looks in.  The
    append must raise ValueError before it claims a segment dir, and
    leave the manifest unchanged."""
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_geoappend"
    delta_pred = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    so._build_ann_index(spark, sf_dir, corpus_filter=~delta_pred, suffix=suffix)
    cpath, _, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)

    # the crash remnant: different-geometry centroids under the same
    # path, meta/postings untouched
    cents = spark.read.parquet(cpath).collect()
    broken = [(int(r["cell"]), [v + 1.0 for v in r["centroid"]]) for r in cents]
    spark.createDataFrame(broken, "cell int, centroid array<double>").write.mode(
        "overwrite"
    ).parquet(cpath)
    manifest_before = so._ann_manifest_read(root)

    delta = load_table(spark, sf_dir, "embeddings").filter(delta_pred).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    with pytest.raises(ValueError, match="geometry drift"):
        so._ann_append(spark, sf_dir, suffix, delta)
    assert so._ann_manifest_read(root) == manifest_before
    assert not any(n.startswith("postings_seg") for n in os.listdir(root)), (
        "a refused append must not claim a segment dir"
    )
    shutil.rmtree(root, ignore_errors=True)


def test_ann_compact_only_rebuilds_on_torn_meta(spark, sf_dir):
    """Round-12 advisory: a TORN meta parquet (crash mid-write — junk
    bytes where a footer should be) surfaces from spark.read.parquet
    as AnalysisException/Py4JJavaError, not FileNotFoundError or
    ValueError; the reuse gate must route it to the rebuild path, not
    fail the key outright (the docstring contract is "rebuilds when
    ANY gate fails")."""
    import glob
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    QUERIES["sink_ann_index_compact"](spark, sf_dir).collect()
    _, _, mpath = so._ann_index_paths(sf_dir, "_compact")

    # tear the meta: truncate every data file to garbage (no valid
    # parquet footer), directory still present so isdir gates pass
    parts = glob.glob(os.path.join(mpath, "*.parquet"))
    assert parts, "test premise: meta has data files"
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"PAR1 torn by crash")
    so._ANN_VALIDATED.clear()

    row = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.stamp_still_valid, (
        "torn meta must route to the rebuild path and come back green"
    )


def test_ann_serve_only_rebuilds_on_torn_meta(spark, sf_dir):
    """Same advisory finding, serve_only's gate: its contract is
    'builds only when the serve path raises (absent, stale, or
    corpus-drifted index)' — a torn meta parquet raises
    AnalysisException/Py4JJavaError from the serve path's reads and
    must route to the same rebuild, not fail the key."""
    import glob
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    QUERIES["sink_ann_index"](spark, sf_dir).collect()
    _, _, mpath = so._ann_index_paths(sf_dir, "")
    parts = glob.glob(os.path.join(mpath, "*.parquet"))
    assert parts, "test premise: meta has data files"
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"PAR1 torn by crash")
    so._ANN_VALIDATED.clear()

    rows = QUERIES["sim_knn_ivf_serve_only"](spark, sf_dir).collect()
    assert rows and all(r["n_results"] == so._ANN_K for r in rows), (
        "torn meta must route serve_only to the rebuild path"
    )


def test_ann_gate_routes_only_artifact_failures():
    """The reuse gates rebuild on artifact-shaped failures ONLY: a
    transient JVM error (executor OOM, shuffle failure) also raises
    Py4JJavaError and must PROPAGATE — silently rebuilding would mask
    the real error class and turn the pure-serve product metric into
    serve+build with no flag (round-13 review finding)."""
    import pyspark_caffe_spark.queries.scale_ops as so

    class FakeJvmError(Exception):
        pass

    # torn-file shapes measured on this pyspark — all route to rebuild
    for msg in (
        "[FAILED_READ_FILE.NO_HINT] Encountered error while reading file",
        "[FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER] Could not read footer",
        "file:/x/part-0.parquet is not a Parquet file. Expected magic number",
        "org.apache.hadoop.fs.ChecksumException: Checksum error: file:/x",
    ):
        assert so._is_artifact_read_failure(FakeJvmError(msg)), msg

    # transient JVM failures — must propagate
    for msg in (
        "java.lang.OutOfMemoryError: Java heap space",
        "org.apache.spark.shuffle.FetchFailedException: Connection reset",
        "java.io.IOException: No space left on device",
    ):
        assert not so._is_artifact_read_failure(FakeJvmError(msg)), msg

    # AnalysisException routes ONLY with an artifact-shaped errorClass/
    # message (round-13 advisory: isinstance alone would route a
    # genuine code bug — UNRESOLVED_COLUMN raised inside the gated
    # serve/validate calls — to a silent rebuild+retry, masking the
    # bug and turning the pure-serve metric into serve+build)
    if so._AnalysisException is not None:
        for msg in (
            "[PATH_NOT_FOUND] Path does not exist: file:/x/meta",
            "[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet",
            "[FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER] Could not read footer",
        ):
            assert so._is_artifact_read_failure(so._AnalysisException(msg)), msg
        for msg in (
            "[UNRESOLVED_COLUMN.WITH_SUGGESTION] A column or function "
            "parameter with name `vec_idd` cannot be resolved.",
            "[DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES] Cannot resolve "
            '"(cell + emb)" due to data type mismatch.',
        ):
            assert not so._is_artifact_read_failure(
                so._AnalysisException(msg)
            ), msg

    # stack-FRAME lines never classify: a frame whose class name
    # contains a needle (e.g. a checksum helper in the trace of an
    # unrelated error) is noise, while a "Caused by:" HEADER line is a
    # real wrapped cause and still routes
    frame_only = FakeJvmError(
        "java.lang.RuntimeException: task failed\n"
        "\tat org.apache.hadoop.fs.FAILED_READ_FILE_Helper.run(X.java:1)\n"
        "\tat org.apache.spark.scheduler.Task.run(Task.scala:139)"
    )
    assert not so._is_artifact_read_failure(frame_only)
    wrapped_cause = FakeJvmError(
        "org.apache.spark.SparkException: Job aborted due to stage failure\n"
        "\tat org.apache.spark.scheduler.DAGScheduler.abort(D.scala:2)\n"
        "Caused by: org.apache.hadoop.fs.ChecksumException: Checksum error"
    )
    assert so._is_artifact_read_failure(wrapped_cause)


def test_ann_append_crash_orphan_invisible_and_gcd(spark, sf_dir):
    """Round-14 (segment append): the crash-walk for the APPEND path.
    A crash mid-segment-write leaves an orphan ``postings_seg<N>`` dir
    that no manifest names — it must be (a) invisible to serves, (b)
    never collide with the next append's segment number, and (c)
    garbage-collected by the next compact.  The committed append must
    leave meta BYTE-UNTOUCHED (no restamp write exists to tear) while
    the derived stamp covers the delta."""
    import os
    import shutil

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_segcrash"
    delta_pred = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    so._build_ann_index(spark, sf_dir, corpus_filter=~delta_pred, suffix=suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    meta_sig_base = so._path_sig(mpath)

    baseline = (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
    )
    assert baseline > 0

    # --- crash: segment fully written, manifest NOT extended ---
    # (simulated exactly as _ann_append would leave it: a complete
    # cell-partitioned dir under the next segment name)
    orphan = os.path.join(root, "postings_seg1")
    (
        spark.read.parquet(ppath)
        .limit(50)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(orphan)
    )
    assert so._ann_live_paths(root) == [ppath], "orphan must be invisible"
    assert (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
        == baseline
    ), "crash between segment write and manifest commit changed the serve"

    # --- a real append from the crash state: picks seg2, not seg1 ---
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(spark, sf_dir, suffix, emb.filter(delta_pred))
    live = so._ann_live_paths(root)
    assert [os.path.basename(p) for p in live] == ["postings", "postings_seg2"], (
        "append must skip the crash orphan's number"
    )
    assert so._path_sig(mpath) == meta_sig_base, (
        "append rewrote meta — segments must commit through the manifest only"
    )
    meta = spark.read.parquet(mpath).collect()[0]
    eff_n, _fp, _m = so._ann_effective_stamp(root, meta)
    assert eff_n == emb.count(), "derived stamp must cover the appended delta"

    # guarded serve validates the appended layout (fresh comparison)
    so._ANN_VALIDATED.clear()
    assert (
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        ).count()
        == baseline
    )

    # --- compact folds the live segment AND GCs the orphan ---
    new_ppath = so._ann_compact_postings(spark, so._ann_index_paths(sf_dir, suffix)[1])
    leftovers = sorted(
        n
        for n in os.listdir(root)
        if n == "postings" or n.startswith(("postings_gen", "postings_seg"))
    )
    assert leftovers == [os.path.basename(new_ppath)], leftovers
    # folded deltas carried onto the generation line: stamp unchanged
    eff_n2, _fp2, _m2 = so._ann_effective_stamp(root, meta)
    assert eff_n2 == eff_n, "compaction must not change the derived stamp"
    so._ANN_VALIDATED.clear()
    assert (
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        ).count()
        == baseline
    ), "post-compact layout does not serve"

    shutil.rmtree(root, ignore_errors=True)


def test_ann_vanished_segment_fails_loud_then_rebuilds(spark, sf_dir):
    """A manifest naming a VANISHED segment is a manual deletion of
    committed corpus data: the serve path must fail LOUD
    (FileNotFoundError — silently serving without the segment would
    drop appended vectors), and the maintenance gate must route it to
    the rebuild path, not crash the key."""
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so

    # the ingest history leaves base + two committed segments
    suffix = "_compact"
    so._ann_lay_ingest_history(spark, sf_dir, suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    live = so._ann_live_paths(root)
    assert len(live) == 3, "test premise: base + two segments"

    shutil.rmtree(live[1])  # delete a committed segment
    so._ANN_VALIDATED.clear()
    with pytest.raises(FileNotFoundError):
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)

    # the gated maintenance verb recovers via its rebuild route
    row = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.stamp_still_valid


def test_ann_append_empty_delta_is_noop(spark, sf_dir):
    """Round-14 self-review finding: a zero-row delta must be a NO-OP.
    A zero-row partitionBy write emits a dir with no data files; if
    the manifest committed a line naming it, every later read of the
    live layout would die with UNABLE_TO_INFER_SCHEMA — hard-failing
    the refresh key and silently converting serve_only's pure-serve
    metric into serve+build via its artifact gate."""
    import os

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_emptyseg"
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    manifest_before = so._ann_manifest_read(root)
    baseline = (
        so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
        .count()
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(spark, sf_dir, suffix, emb.filter(F.lit(False)))

    assert so._ann_manifest_read(root) == manifest_before, (
        "empty append must not commit a manifest line"
    )
    assert not any(
        n.startswith("postings_seg") for n in os.listdir(root)
    ), "empty append must not leave a segment dir"
    so._ANN_VALIDATED.clear()
    assert (
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        ).count()
        == baseline
    )


def test_ann_append_never_reuses_vanished_segment_number(spark, sf_dir):
    """Round-14 self-review finding: the next segment number must
    clear BOTH everything on disk AND everything the manifest names —
    a committed segment whose dir was manually deleted would otherwise
    get its name reused, duplicating the manifest line (double-read of
    the new data, double-counted stale delta) instead of the designed
    fail-loud FileNotFoundError."""
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_segreuse"
    so._ann_lay_ingest_history(spark, sf_dir, suffix)
    _, _, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    live = so._ann_live_paths(root)
    assert [os.path.basename(p) for p in live] == [
        "postings", "postings_seg1", "postings_seg2",
    ]

    shutil.rmtree(live[2])  # vanish the committed seg2 dir
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(
        spark, sf_dir, suffix, emb.filter(F.pmod(F.col("vec_id"), F.lit(50)) == 1)
    )

    _gen, _n, _fp, segs = so._ann_manifest_read(root)
    names = [s[0] for s in segs]
    assert names == ["postings_seg1", "postings_seg2", "postings_seg3"], names
    assert len(set(names)) == len(names), "manifest must never repeat a segment"
    # the vanished committed segment still fails loud (not silently
    # served without, not double-counted)
    with pytest.raises(FileNotFoundError):
        so._ann_live_paths(root)
    shutil.rmtree(root, ignore_errors=True)


def test_ann_segment_serve_prunes_every_leg(spark, sf_dir):
    """The scale claim of the segment read path (round-13 design note):
    the serve is a flat union whose ``cell IN (probed)`` filter pushes
    into EVERY leg, so nprobe-bounded reads stay corpus-sublinear no
    matter how many append segments are live.  Plan-locked: with a
    base generation + one committed segment, the physical plan must
    contain exactly TWO postings scans, each carrying the cell filter
    in its PartitionFilters — and the serve's answers must equal the
    compacted single-leg layout's answers exactly (the union is a
    layout detail, never a semantics change)."""
    import os
    import re

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_segplan"
    delta_pred = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    so._build_ann_index(spark, sf_dir, corpus_filter=~delta_pred, suffix=suffix)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(spark, sf_dir, suffix, emb.filter(delta_pred))
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    assert len(so._ann_live_paths(root)) == 2

    served = so._serve_from_ann_index(spark, sf_dir, with_recall=False, suffix=suffix)
    plan = _plan(served)
    # every postings leg (base + segment) partition-prunes on cell
    leg_scans = [
        m.start()
        for m in re.finditer(r"PartitionFilters: \[[^\]]*cell", plan)
    ]
    assert len(leg_scans) >= 2, (
        f"expected >=2 partition-pruned postings legs, found {len(leg_scans)}:\n"
        + plan
    )
    before = sorted(
        (r.qid, r.vec_id, round(r.cos, 6)) for r in served.collect()
    )

    # compaction folds to one leg; answers must be byte-identical
    so._ann_compact_postings(spark, ppath)
    after_served = so._serve_from_ann_index(
        spark, sf_dir, with_recall=False, suffix=suffix
    )
    after_plan = _plan(after_served)
    assert (
        len(re.findall(r"PartitionFilters: \[[^\]]*cell", after_plan)) >= 1
    )
    after = sorted(
        (r.qid, r.vec_id, round(r.cos, 6)) for r in after_served.collect()
    )
    assert before == after, "union layout changed the served answers"
    import shutil

    shutil.rmtree(root, ignore_errors=True)


def test_ann_compact_cross_check_takes_no_snapshot_fallback(
    spark, sf_dir, monkeypatch
):
    """build → append → compact: the compaction's before-identity
    comes from the observe on the rewrite's own read, and the manifest
    cross-check (effective stamp n · m postings) must agree with it, so
    the dedicated snapshot scan of the old layout never runs — the
    postings are read exactly once.  The cross-check once omitted the
    build's corpus_n and fell back to that full scan on every
    compaction."""
    import os
    import shutil

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_xcheck"
    delta_pred = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    so._build_ann_index(spark, sf_dir, corpus_filter=~delta_pred, suffix=suffix)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(spark, sf_dir, suffix, emb.filter(delta_pred))
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)

    reads: list = []
    real_read = so._ann_read_postings

    def spy(spark_, paths):
        reads.append(list(paths))
        return real_read(spark_, paths)

    monkeypatch.setattr(so, "_ann_read_postings", spy)
    identity: dict = {}
    try:
        so._ann_compact_postings(spark, ppath, identity_out=identity)
        assert len(reads) == 1, (
            f"compaction read the postings {len(reads)} times — the "
            "snapshot-scan fallback ran"
        )
        m = int(so._ann_read_meta(mpath)["m"])
        assert identity["n"] == emb.count() * m
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_local_topk_matches_brute_force():
    """The shared per-batch top-k kernel of every IVF search against a
    per-query brute force: ranked by (-cos, vec_id), at most k rows per
    query, only candidate rows.  Planted ties make vec_id decide."""
    import numpy as np

    import pyspark_caffe_spark.queries.scale_ops as so

    rng = np.random.default_rng(11)
    n, nq = 40, 5
    ids = rng.permutation(1000)[:n].astype(np.int64)
    scores = np.round(rng.uniform(-1, 1, (n, nq)), 1)  # coarse: many ties
    scores[:8] = 0.5  # planted tie block across every query
    q_ids = np.arange(100, 100 + nq, dtype=np.int64)
    cand = rng.random((n, nq)) < 0.4
    cand[:, 2] = False  # a query with an empty candidate set

    def brute(k, c):
        out = []
        for qi, q in enumerate(q_ids):
            ranked = sorted(
                (-scores[i, qi], ids[i]) for i in range(n) if c is None or c[i, qi]
            )
            out += [(q, vid, -neg) for neg, vid in ranked[:k]]
        return out

    for k, c in [(3, None), (3, cand), (n + 5, None), (n + 5, cand)]:
        got = so._ivf_local_topk(q_ids, ids, scores, k, c)
        assert list(got.itertuples(index=False, name=None)) == brute(k, c), (k, c)
    assert 102 not in set(so._ivf_local_topk(q_ids, ids, scores, 3, cand).qid)

    # serve-side collapse: vec_id 7 arrives from two cells; query 0
    # probed only the first copy, query 1 only the second.  Each query
    # gets 7 once, scored from the copy it probed (the copies score
    # differently here only so the test can tell them apart).
    ids = np.array([7, 3, 7, 9], dtype=np.int64)
    scores = np.array([[0.1, 0.8], [0.5, 0.6], [0.9, 0.2], [0.2, 0.4]])
    cand = np.array([[True, False], [True, True], [False, True], [True, True]])
    u_ids, u_scores, u_cand = so._ivf_collapse(ids, scores, cand)
    assert list(u_ids) == [3, 7, 9]
    top = so._ivf_local_topk(np.array([0, 1]), u_ids, u_scores, 10, u_cand)
    assert list(top.itertuples(index=False, name=None)) == [
        (0, 3, 0.5), (0, 9, 0.2), (0, 7, 0.1),
        (1, 3, 0.6), (1, 9, 0.4), (1, 7, 0.2),
    ]


def test_ann_manifest_roundtrip_property(tmp_path):
    """Property test: any (gen, segments) manifest with legal dir
    names and arbitrary int deltas (including negative fingerprint
    sums and huge decimal(38) magnitudes) survives a commit→read
    round-trip exactly, and the effective-stamp derivation equals the
    plain sum."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyspark_caffe_spark.queries.scale_ops as so

    names = st.from_regex(r"postings(_gen[0-9]{1,6}|_seg[0-9]{1,6})?", fullmatch=True)
    deltas = st.integers(min_value=-(10**37), max_value=10**37)
    seg = st.tuples(names, st.integers(0, 10**12), deltas)

    @settings(max_examples=60, deadline=None)
    @given(gen=st.tuples(names, st.integers(0, 10**12), deltas),
           segs=st.lists(seg, max_size=6))
    def check(gen, segs):
        root = str(tmp_path)
        so._ann_manifest_commit(root, gen, tuple(segs))
        got = so._ann_manifest_read(root)
        assert got == (gen[0], gen[1], gen[2], tuple(segs))
        meta = {"corpus_n": 11, "corpus_fp": "42"}
        n, fp, manifest = so._ann_effective_stamp(root, meta)
        assert n == 11 + gen[1] + sum(s[1] for s in segs)
        assert int(fp) == 42 + gen[2] + sum(s[2] for s in segs)
        assert manifest == got

    check()


def test_ann_manifest_parse_defensive(tmp_path):
    """Torn/garbage manifest content must resolve to the base layout
    (the serve path's existence checks then fail loud with the rebuild
    route if base is gone) — never raise, never escape root."""
    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    mf = tmp_path / so._ANN_GEN_POINTER

    # absent file → base, no segments
    assert so._ann_manifest_read(root) == so._ANN_MANIFEST_BASE

    # healthy manifest round-trips, commit is atomic-replace + fsync
    so._ann_manifest_commit(
        root, ("postings_gen3", 7, -123), (("postings_seg2", 5, 99),)
    )
    assert so._ann_manifest_read(root) == (
        "postings_gen3",
        7,
        -123,
        (("postings_seg2", 5, 99),),
    )

    # bare name (pre-segment pointer file) → that gen, delta 0
    mf.write_text("postings_gen7\n")
    assert so._ann_manifest_read(root) == ("postings_gen7", 0, 0, ())

    # garbage → base fallback
    for junk in ("", "   \n", "a b\n", "gen one two\n", "g 1 2 3\n", "/\n"):
        mf.write_text(junk)
        assert so._ann_manifest_read(root) == so._ANN_MANIFEST_BASE, repr(junk)

    # path-traversal names are basename()-d, never escape root
    mf.write_text("../../etc 1 2\n")
    name, _n, _fp, _segs = so._ann_manifest_read(root)
    assert name == "etc"


def test_ann_append_auto_compacts_at_segment_cap(spark, sf_dir, monkeypatch):
    """Round-15: the live segment count is BOUNDED — once an append's
    commit would leave K segments at ``_ANN_MAX_SEGMENTS``, the append
    auto-triggers the crash-safe compaction swap, so the serve union
    never grows past the cap between manual compacts.  The fold must
    keep the derived stamp exact and the guarded serve green."""
    import os
    import shutil

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_segcap"
    monkeypatch.setattr(so, "_ANN_MAX_SEGMENTS", 3)
    slices = [F.pmod(F.col("vec_id"), F.lit(20)) == v for v in (5, 11, 17)]
    so._build_ann_index(
        spark, sf_dir, corpus_filter=~(slices[0] | slices[1] | slices[2]),
        suffix=suffix,
    )
    root = so._ann_root(sf_dir, suffix)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    # appends 1-2: segments accumulate under the cap
    so._ann_append(spark, sf_dir, suffix, emb.filter(slices[0]))
    so._ann_append(spark, sf_dir, suffix, emb.filter(slices[1]))
    assert len(so._ann_manifest_read(root)[3]) == 2

    # append 3 reaches the cap: commits, then auto-folds to ONE generation
    so._ann_append(spark, sf_dir, suffix, emb.filter(slices[2]))
    name, _gn, _gfp, segs = so._ann_manifest_read(root)
    assert segs == (), "auto-compact must fold every live segment"
    assert name.startswith("postings_gen")
    assert len(so._ann_live_paths(root)) == 1

    # the folded deltas carried onto the generation line: the derived
    # stamp still covers the FULL corpus, and the guarded serve passes
    meta = spark.read.parquet(os.path.join(root, "meta")).collect()[0]
    eff_n, _fp, _m = so._ann_effective_stamp(root, meta)
    assert eff_n == emb.count()
    so._ANN_VALIDATED.clear()
    assert (
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        ).count()
        > 0
    )
    shutil.rmtree(root, ignore_errors=True)


def test_ann_auto_compact_crash_leaves_appended_segment_live(
    spark, sf_dir, monkeypatch
):
    """Round-15 crash-walk across the auto-trigger boundary: the
    cap-hitting append COMMITS its segment BEFORE the auto-compact
    runs, so a crash anywhere inside the triggered compaction must
    leave the appended data live, the derived stamp truthful, and the
    index servable (compaction's own crash contract) — while the
    compaction failure itself PROPAGATES (LSM-style ingest stall, not
    a silent maintenance skip)."""
    import errno
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_segcapcrash"
    monkeypatch.setattr(so, "_ANN_MAX_SEGMENTS", 2)
    s1 = F.pmod(F.col("vec_id"), F.lit(20)) == 5
    s2 = F.pmod(F.col("vec_id"), F.lit(20)) == 11
    so._build_ann_index(spark, sf_dir, corpus_filter=~(s1 | s2), suffix=suffix)
    root = so._ann_root(sf_dir, suffix)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    so._ann_append(spark, sf_dir, suffix, emb.filter(s1))
    assert len(so._ann_manifest_read(root)[3]) == 1

    # crash INSIDE the auto-triggered compaction: the durability fence
    # on the new generation reports EIO, so the compact aborts BEFORE
    # its commit point (the fence's designed abort path)
    real_fsync_tree = so._fsync_tree

    def exploding(path):
        if os.path.basename(path).startswith("postings_gen"):
            raise OSError(errno.EIO, "injected EIO on the new generation")
        real_fsync_tree(path)

    monkeypatch.setattr(so, "_fsync_tree", exploding)
    with pytest.raises(OSError):
        so._ann_append(spark, sf_dir, suffix, emb.filter(s2))
    monkeypatch.setattr(so, "_fsync_tree", real_fsync_tree)

    # the append itself committed: both segments live, stamp exact,
    # index servable; the crashed rewrite is an invisible orphan
    name, _gn, _gfp, segs = so._ann_manifest_read(root)
    assert name == "postings" and len(segs) == 2
    meta = spark.read.parquet(os.path.join(root, "meta")).collect()[0]
    eff_n, _fp, _m = so._ann_effective_stamp(root, meta)
    assert eff_n == emb.count()
    so._ANN_VALIDATED.clear()
    assert (
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        ).count()
        > 0
    )

    # recovery: the next compaction folds both segments AND garbage-
    # collects the crash orphan
    new_ppath = so._ann_compact_postings(
        spark, so._ann_index_paths(sf_dir, suffix)[1]
    )
    leftovers = sorted(
        n
        for n in os.listdir(root)
        if n == "postings" or n.startswith(("postings_gen", "postings_seg"))
    )
    assert leftovers == [os.path.basename(new_ppath)], leftovers
    shutil.rmtree(root, ignore_errors=True)


def test_ann_manifest_commit_fences_concurrent_writer(tmp_path):
    """Round-15 writer fence: two writers that both read layout L and
    commit mutations derived from it — the second must raise
    AnnConcurrentWriterError and leave the winner's manifest intact
    (the single-writer contract enforced at the commit point, not by
    convention; an interleaved replace would silently drop the other
    writer's manifest lines, orphaning committed corpus data)."""
    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    so._ann_manifest_commit(root, ("postings", 0, 0), ())  # unconditional init
    snapshot = so._ann_manifest_read(root)

    # writer B (an append) wins the race: its fenced commit applies
    so._ann_manifest_commit(
        root, ("postings", 0, 0), (("postings_seg1", 10, 123),),
        expected=snapshot,
    )
    after_b = so._ann_manifest_read(root)
    assert after_b[3] == (("postings_seg1", 10, 123),)

    # writer A (a compaction folding the OLD layout) loses: fenced out,
    # nothing applied
    with pytest.raises(so.AnnConcurrentWriterError):
        so._ann_manifest_commit(
            root, ("postings_gen1", 0, 0), (), expected=snapshot
        )
    assert so._ann_manifest_read(root) == after_b, "loser must not commit"

    # a writer that re-read the LIVE layout proceeds normally
    so._ann_manifest_commit(root, ("postings_gen1", 10, 123), (), expected=after_b)
    assert so._ann_manifest_read(root)[0] == "postings_gen1"


def test_ann_compact_vanished_base_generation_fails_loud(spark, sf_dir):
    """Round-14 advisory closure: a manifest naming a vanished base
    GENERATION must fail the compaction LOUD (and route the gated
    maintenance verb to rebuild) instead of silently folding the stale
    'postings' fallback while carrying the manifest's folded deltas
    onto the new generation line — a committed stamp that would not
    describe the rewritten content, mirroring the vanished-segment
    contract."""
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so

    suffix = "_compact"
    so._ann_lay_ingest_history(spark, sf_dir, suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    ppath = so._ann_compact_postings(spark, ppath)  # → gen1, folded deltas
    gen_name = os.path.basename(ppath)
    assert gen_name.startswith("postings_gen")

    # resurrect a stale base dir (exactly what the silent fallback
    # would have folded), then vanish the generation the manifest names
    (
        spark.read.parquet(ppath)
        .limit(20)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(root, "postings"))
    )
    shutil.rmtree(ppath)

    with pytest.raises(FileNotFoundError):
        so._ann_compact_postings(spark, so._ann_index_paths(sf_dir, suffix)[1])
    # fail-loud means NO commit: the manifest still names the vanished
    # generation (nothing silently rewrote the layout)
    assert so._ann_manifest_read(root)[0] == gen_name

    # the gated maintenance verb recovers via its rebuild route
    so._ANN_VALIDATED.clear()
    row = QUERIES["sink_ann_index_compact_only"](spark, sf_dir).collect()[0]
    assert row.content_identical and row.stamp_still_valid


def test_ann_reset_keeps_lock_inode_and_sweeps_tmps(tmp_path):
    """Round-16 ADVICE closure: `_ann_reset_generations` must LEAVE the
    fence's `.lock` sidecar in place — unlinking it strands a writer
    already holding the flock on a dead inode, so the next writer
    locks a FRESH inode and the two no longer mutually exclude (the
    CAS fence silently voided during a reset race).  The reset still
    sweeps the manifest and any torn mkstemp tmps (under the flock,
    so it can never unlink a LIVE commit's tmp mid-write)."""
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    so._ann_manifest_commit(root, ("postings", 0, 0), ())  # creates .lock
    lock_path = os.path.join(root, so._ANN_GEN_POINTER + ".lock")
    assert os.path.exists(lock_path)
    ino_before = os.stat(lock_path).st_ino
    # plant a torn tmp from a "crashed" commit and a live manifest
    torn = os.path.join(root, so._ANN_GEN_POINTER + ".tmp.deadbeef")
    with open(torn, "w") as f:
        f.write("postings_gen9 1 1\n")

    so._ann_reset_generations(root)

    assert not os.path.exists(os.path.join(root, so._ANN_GEN_POINTER))
    assert not os.path.exists(torn), "torn commit tmp must be swept"
    assert os.path.exists(lock_path), ".lock must survive reset"
    assert os.stat(lock_path).st_ino == ino_before, (
        "reset must not recreate the lock inode — a holder of the old "
        "inode and a locker of the new one would not mutually exclude"
    )


def test_ann_commit_unique_tmp_no_litter(tmp_path, monkeypatch):
    """Round-16 ADVICE closure: every manifest commit writes its OWN
    mkstemp-unique tmp (two commits can never interleave truncate/
    write on a shared tmp inode), a successful replace consumes it,
    and a failure past tmp creation unlinks it (no litter)."""
    import os

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    seen = []
    real_replace = os.replace

    def spy(src, dst):
        seen.append(os.path.basename(src))
        return real_replace(src, dst)

    monkeypatch.setattr(so.os, "replace", spy)
    so._ann_manifest_commit(root, ("postings", 0, 0), ())
    so._ann_manifest_commit(root, ("postings", 0, 0), (("postings_seg1", 1, 1),))
    assert len(seen) == 2 and seen[0] != seen[1], seen
    assert all(s.startswith(so._ANN_GEN_POINTER + ".tmp.") for s in seen), seen

    def boom(src, dst):
        raise OSError("simulated replace failure")

    monkeypatch.setattr(so.os, "replace", boom)
    with pytest.raises(OSError, match="simulated"):
        so._ann_manifest_commit(root, ("postings", 2, 2), ())
    monkeypatch.setattr(so.os, "replace", real_replace)
    litter = [
        n for n in os.listdir(root)
        if n.startswith(so._ANN_GEN_POINTER + ".tmp")
    ]
    assert litter == [], f"failed commit left tmp litter: {litter}"
    # the failed commit never applied: manifest still names seg1
    assert so._ann_manifest_read(root)[3] == (("postings_seg1", 1, 1),)


def test_ann_unconditional_commit_serializes_under_fence_lock(tmp_path):
    """Round-16 ADVICE closure: UNCONDITIONAL commits (fresh builds,
    crash-walk) take the same flock as fenced ones — an unconditional
    writer can no longer interleave with a fenced writer's
    check-then-replace window.  Pin the observable: while another
    holder owns the commit lock, an unconditional commit BLOCKS until
    release."""
    import threading
    import time

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    held = threading.Event()
    release = threading.Event()
    done = threading.Event()

    def holder():
        with so._ann_commit_lock(root):
            held.set()
            release.wait(timeout=30)

    def committer():
        so._ann_manifest_commit(root, ("postings", 0, 0), ())
        done.set()

    th = threading.Thread(target=holder)
    th.start()
    assert held.wait(timeout=10)
    tc = threading.Thread(target=committer)
    tc.start()
    time.sleep(0.5)
    assert not done.is_set(), (
        "unconditional commit must block while the fence lock is held"
    )
    release.set()
    th.join(timeout=30)
    tc.join(timeout=30)
    assert done.is_set()
    assert so._ann_manifest_read(root)[0] == "postings"


def test_ann_concurrent_refresh_append_race_fences_loser(spark, sf_dir, monkeypatch):
    """Round-16 (r15 verdict #4): the fence under the real ingest
    concurrency shape — two concurrent refresh-style ``_ann_append``
    calls (the user-facing daily-ingest verb) racing on the SAME index
    root.  Contract: exactly one writer commits; the loser surfaces
    AnnConcurrentWriterError — not a torn stamp and not a clobbered
    segment (the round-16 dir claim gives each writer a distinct
    segment dir, so the winner's committed data is untouched by the
    loser's concurrent write); the documented recovery — retry from a
    fresh layout read — then succeeds, and the refreshed index
    validates as the FULL corpus with the fingerprint guard on."""
    import os
    import shutil
    import threading

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_race16"
    d1 = F.pmod(F.col("vec_id"), F.lit(10)) == 3
    d2 = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    so._build_ann_index(spark, sf_dir, corpus_filter=~(d1 | d2), suffix=suffix)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    root = os.path.dirname(so._ann_index_paths(sf_dir, suffix)[2])

    # gate: both appends must reach their fenced commit having read the
    # SAME layout snapshot — the barrier releases them together, the
    # flock then serializes the commits and the fence rejects the
    # second (a deterministic lost-update setup, not a lucky
    # interleaving)
    real_commit = so._ann_manifest_commit
    barrier = threading.Barrier(2, timeout=120)
    armed = threading.Event()
    armed.set()

    def gated(root_, gen, segs, expected=None):
        if expected is not None and armed.is_set():
            try:
                barrier.wait()
            except threading.BrokenBarrierError:
                pass
            armed.clear()
        return real_commit(root_, gen, segs, expected=expected)

    monkeypatch.setattr(so, "_ann_manifest_commit", gated)
    errs: dict[str, Exception] = {}

    def ingest(name: str, delta) -> None:
        try:
            so._ann_append(spark, sf_dir, suffix, delta)
        except Exception as ex:  # noqa: BLE001
            errs[name] = ex

    t1 = threading.Thread(target=ingest, args=("d1", emb.filter(d1)))
    t2 = threading.Thread(target=ingest, args=("d2", emb.filter(d2)))
    t1.start()
    t2.start()
    t1.join(timeout=300)
    t2.join(timeout=300)

    assert len(errs) == 1, f"exactly one loser expected, got: {errs!r}"
    ((loser, ex),) = errs.items()
    assert isinstance(ex, so.AnnConcurrentWriterError), ex

    # no torn stamp: the manifest parses to base + exactly the
    # winner's ONE segment, and that segment dir exists on disk
    m = so._ann_manifest_read(root)
    assert m[0] == "postings" and len(m[3]) == 1, m
    assert os.path.isdir(os.path.join(root, m[3][0][0]))

    # documented recovery: the loser retries from a fresh layout read
    so._ann_append(
        spark, sf_dir, suffix, emb.filter(d1 if loser == "d1" else d2)
    )
    assert len(so._ann_manifest_read(root)[3]) == 2

    # the refreshed index now validates as the FULL corpus (derived
    # stamp = meta + both segment deltas) and serves exactly k=10
    # results per query with the guard on
    so._ANN_VALIDATED.clear()
    served = so._serve_from_ann_index(
        spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
    )
    per_q = (
        served.groupBy("qid")
        .count()
        .agg(F.min("count").alias("mn"), F.max("count").alias("mx"))
        .collect()[0]
    )
    assert per_q["mn"] == per_q["mx"] == 10
    shutil.rmtree(root, ignore_errors=True)


def test_ann_append_racing_rebuild_fails_loud_on_guarded_serve(spark, sf_dir):
    """Round-16 self-audit: the one writer-race the manifest fence
    cannot see — append vs full REBUILD.  A rebuild resets to the
    manifest-absent base layout, so a stale appender whose snapshot
    was ALSO the base layout passes the compare-and-swap (ABA: base →
    base) and commits a segment of vectors the rebuilt index already
    contains.  The fence is blind here by construction, but the
    DERIVED stamp is not: effective corpus = meta(full) + segment
    delta(slice) no longer matches the actual dataset fingerprint,
    so the guarded serve fails LOUD with the rebuild route — a
    double-writer contract violation degrades to an explicit error,
    never to silently double-counted postings.  (Same guard catches
    an operator re-running one day's ingest twice.)"""
    import os
    import shutil

    import pytest

    import pyspark_caffe_spark.queries.scale_ops as so
    from pyspark_caffe_spark.tables import load_table

    suffix = "_aba16"
    delta_pred = F.pmod(F.col("vec_id"), F.lit(10)) == 7
    # writer A's world: base built WITHOUT the delta slice
    so._build_ann_index(spark, sf_dir, corpus_filter=~delta_pred, suffix=suffix)
    root = os.path.dirname(so._ann_index_paths(sf_dir, suffix)[2])
    assert so._ann_manifest_read(root) == so._ANN_MANIFEST_BASE

    # writer B lands a full REBUILD: manifest absent before AND after
    # (base → base), meta now fingerprints the FULL corpus
    so._build_ann_index(spark, sf_dir, suffix=suffix)
    assert so._ann_manifest_read(root) == so._ANN_MANIFEST_BASE

    # writer A's append now commits: the fence compares base == base
    # and PASSES (the ABA blind spot) even though A's delta vectors
    # are already inside the rebuilt base
    delta = load_table(spark, sf_dir, "embeddings").filter(delta_pred).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    so._ann_append(spark, sf_dir, suffix, delta)
    assert len(so._ann_manifest_read(root)[3]) == 1  # the ABA commit applied

    # the guarded serve converts the blind spot to fails-loud: the
    # derived stamp (full + slice) cannot match the dataset
    so._ANN_VALIDATED.clear()
    with pytest.raises(ValueError, match="corpus drift"):
        so._serve_from_ann_index(
            spark, sf_dir, with_recall=False, suffix=suffix, validate_corpus=True
        )
    shutil.rmtree(root, ignore_errors=True)


def test_ann_manifest_stays_world_readable(tmp_path):
    """Round-16 self-review closure: the mkstemp-unique commit tmp is
    created 0600, and os.replace would carry that onto the LIVE
    manifest — a co-reader under another uid would then hit
    PermissionError, which `_ann_manifest_read`'s defensive except
    degrades to the BASE layout (every committed segment silently
    dropped).  The commit must restore world-readable mode before the
    replace."""
    import os
    import stat

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    so._ann_manifest_commit(root, ("postings", 0, 0), (("postings_seg1", 1, 1),))
    mode = os.stat(os.path.join(root, so._ANN_GEN_POINTER)).st_mode
    assert mode & stat.S_IRGRP and mode & stat.S_IROTH, oct(mode)


def test_ann_compact_gc_sweeps_crash_orphan_tmps(spark, sf_dir):
    """Round-16 self-review closure: a commit SIGKILL'd between
    mkstemp and replace leaves one unique POSTINGS_GEN.tmp.* file;
    on an index maintained only by append/compact (never rebuilt)
    those accumulated unbounded.  Compaction's post-commit GC now
    sweeps them under the commit lock."""
    import os
    import shutil

    import pyspark_caffe_spark.queries.scale_ops as so

    suffix = "_tmpgc16"
    so._ann_lay_ingest_history(spark, sf_dir, suffix)
    _, ppath, mpath = so._ann_index_paths(sf_dir, suffix)
    root = os.path.dirname(mpath)
    orphan = os.path.join(root, so._ANN_GEN_POINTER + ".tmp.deadcafe")
    with open(orphan, "w") as f:
        f.write("postings_gen99 9 9\n")

    so._ann_compact_postings(spark, ppath)

    assert not os.path.exists(orphan), "compact GC must sweep crash tmps"
    # the live manifest survived the sweep
    assert so._ann_manifest_read(root)[0].startswith("postings_gen")
    shutil.rmtree(root, ignore_errors=True)


def test_ann_manifest_read_never_raises_on_garbage(tmp_path):
    """Property-pin the parser's defensive contract: ANY byte content
    in the manifest file — torn writes, truncations, binary garbage,
    path-escape attempts — parses to either the BASE layout or a
    well-formed (name, int, int, segments) tuple whose names can never
    escape the root (basename'd).  A raise here would turn a torn
    manifest into a serve-path crash instead of the documented
    base-layout fallback."""
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    manifest = os.path.join(root, so._ANN_GEN_POINTER)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=512))
    def check(blob: bytes) -> None:
        with open(manifest, "wb") as f:
            f.write(blob)
        got = so._ann_manifest_read(root)
        assert isinstance(got, tuple) and len(got) == 4
        name, n, fp, segs = got
        # round-17 (ADVICE): "/" not in name was too weak — basename
        # passes "." and ".." through, and ".." resolves to root's
        # PARENT (an always-existing dir): the exact escape the
        # contract claims to prevent.  Pin the full no-escape set.
        assert name and name not in (".", "..") and "/" not in name
        assert isinstance(n, int) and isinstance(fp, int)
        for s in segs:
            assert len(s) == 3 and s[0] and "/" not in s[0]
            assert s[0] not in (".", "..")
            assert isinstance(s[1], int) and isinstance(s[2], int)

    check()
    # round-trip property on top: whatever a commit writes, the parser
    # returns verbatim
    so._ann_manifest_commit(
        root, ("postings_gen3", 5, 99), (("postings_seg7", 2, 11),)
    )
    assert so._ann_manifest_read(root) == (
        "postings_gen3", 5, 99, (("postings_seg7", 2, 11),)
    )


def test_ann_manifest_dotdot_line_resolves_to_base(tmp_path):
    """Round-17 ADVICE regression: a garbage manifest line of ".."
    passed the old empty-name check (basename("..") == "..") and
    _ann_base_path then resolved the layout to root's PARENT — an
    always-existing directory, so the isdir fallback never fired:
    the path escape the basename() contract claims to prevent.
    Both "." and ".." (as gen OR segment name) must now parse to
    the BASE layout, which _ann_base_path resolves inside root."""
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    root = str(tmp_path)
    manifest = os.path.join(root, so._ANN_GEN_POINTER)
    for garbage in ("..\n", ".\n", "a/..\n", "ok 1 2\n.. 3 4\n"):
        with open(manifest, "w") as f:
            f.write(garbage)
        parsed = so._ann_manifest_read(root)
        assert parsed == so._ANN_MANIFEST_BASE, garbage
        base = so._ann_base_path(root, parsed)
        assert os.path.abspath(base).startswith(os.path.abspath(root) + os.sep)


def test_ann_manifest_commit_fchmod_failure_leaves_no_litter(tmp_path, monkeypatch):
    """Round-17 ADVICE regression: os.fchmod ran after mkstemp but
    OUTSIDE the try/except cleanup — a failing fchmod (e.g. EIO)
    leaked the fd and left the unique tmp as litter, contradicting
    the docstring's 'tmp is unlinked on any failure past its
    creation'.  Now it runs inside the fdopen block: the ``with``
    closes the fd and the except unlinks the tmp."""
    import glob
    import os

    import pyspark_caffe_spark.queries.scale_ops as so

    import pytest

    root = str(tmp_path)
    so._ann_manifest_commit(root, ("postings_gen1", 1, 1), ())
    live_before = so._ann_manifest_read(root)

    def boom(fd, mode):
        raise OSError(5, "Input/output error")

    # monkeypatch restores os.fchmod at teardown — no manual undo
    monkeypatch.setattr(os, "fchmod", boom)
    with pytest.raises(OSError):
        so._ann_manifest_commit(root, ("postings_gen2", 2, 2), ())
    monkeypatch.undo()

    # no tmp litter survived the failed commit...
    assert glob.glob(os.path.join(root, so._ANN_GEN_POINTER + ".tmp.*")) == []
    # ...and the live manifest still carries the pre-failure layout
    assert so._ann_manifest_read(root) == live_before


def test_ivf_scores_round_half_away_like_the_jvm(spark):
    """The IVF kernels' score rounding matches the JVM F.round of their
    exact baseline (vecops.knn_for_query): 2.5e-6 rounds to 3e-6, where
    np.round's half-to-even gives 2e-6."""
    import numpy as np

    from pyspark_caffe_spark.queries import scale_ops as so

    x = np.array([[2.5e-6, 0.0], [-2.5e-6, 0.0]])
    q = np.array([1.0, 0.0])
    assert so._ivf_scores(x, q).tolist() == [3e-6, -3e-6]
    assert so._ivf_scores(x, q[None, :])[:, 0].tolist() == [3e-6, -3e-6]
    jvm = spark.range(1).select(F.round(F.lit(2.5e-6), 6).alias("r")).collect()[0]["r"]
    assert jvm == 3e-6 and np.round(2.5e-6, 6) == 2e-6
