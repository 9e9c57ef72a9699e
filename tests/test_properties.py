"""Property-based invariants (hypothesis) over small generated frames —
SURVEY.md §5.3. These pin the algebraic laws the operators rely on,
independent of the fixtures."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(-100, 100)), min_size=0, max_size=40
)


def _df(spark, data):
    pdf = pd.DataFrame(data, columns=["k", "v"]).astype({"k": "int64", "v": "int64"})
    return spark.createDataFrame(pdf, schema="k long, v long")


@given(a=rows, b=rows)
@settings(**SETTINGS)
def test_union_count_additive(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionByName(db).count() == len(a) + len(b)


@given(a=rows, b=rows)
@settings(**SETTINGS)
def test_join_count_bounds(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    inner = da.join(db, "k", "inner").count()
    left = da.join(db, "k", "left").count()
    assert inner <= len(a) * max(len(b), 1)
    assert left >= len(a)
    # semi + anti partition the left side
    semi = da.join(db, "k", "left_semi").count()
    anti = da.join(db, "k", "left_anti").count()
    assert semi + anti == len(a)


@given(a=rows)
@settings(**SETTINGS)
def test_window_rank_bounds(spark, a):
    if not a:
        return
    da = _df(spark, a)
    w = Window.partitionBy("k").orderBy("v")
    out = da.select("k", F.row_number().over(w).alias("rn"))
    sizes = {r["k"]: r["n"] for r in da.groupBy("k").agg(F.count("*").alias("n")).collect()}
    for r in out.collect():
        assert 1 <= r["rn"] <= sizes[r["k"]]


@given(a=rows)
@settings(**SETTINGS)
def test_dedup_idempotent(spark, a):
    da = _df(spark, a).dropDuplicates(["k", "v"])
    assert da.count() == da.dropDuplicates(["k", "v"]).count()
    assert da.count() == len(set(a))


@given(a=rows)
@settings(**SETTINGS)
def test_groupby_sum_matches_python(spark, a):
    da = _df(spark, a)
    got = {r["k"]: r["s"] for r in da.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    want: dict[int, int] = {}
    for k, v in a:
        want[k] = want.get(k, 0) + v
    assert got == want


@given(
    ts=st.lists(st.integers(0, 10_000), min_size=1, max_size=30),
    seed=st.integers(0, 2**16),
)
@settings(**SETTINGS)
def test_sessionize_order_independent(spark, ts, seed):
    """session_window result must not depend on input row order."""
    import random

    gap = 600  # seconds
    base = pd.DataFrame({"user": [1] * len(ts), "t": pd.to_datetime(ts, unit="s")})
    shuffled = base.sample(frac=1.0, random_state=seed)

    def sessions(pdf):
        df = spark.createDataFrame(pdf)
        out = (
            df.groupBy("user", F.session_window("t", f"{gap} seconds"))
            .agg(F.count("*").alias("n"))
            .select(F.col("session_window.start").alias("s"), "n")
        )
        return sorted((r["s"], r["n"]) for r in out.collect())

    assert sessions(base) == sessions(shuffled)


@given(
    ts=st.lists(st.tuples(st.integers(0, 20), st.booleans()), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_asof_union_window_matches_bruteforce(spark, ts):
    """joins.asof_bracket's two frames equal their brute-force
    definitions: ``prev`` is the latest ref at-or-before each probe,
    ``next`` the earliest ref strictly after it.  The narrow timestamp
    range puts probes and refs on equal timestamps in most examples,
    which is where the tie rule acts."""
    from pyspark_caffe_spark.queries.joins import asof_bracket

    rows = [(i, i % 2, t, not is_ref) for i, (t, is_ref) in enumerate(ts)]
    df = spark.createDataFrame(rows, "id long, k long, t long, is_probe boolean")
    probe = df.filter("is_probe").select("id", "k", "t")
    ref = df.filter(~F.col("is_probe")).select("k", "t", F.col("id").alias("ref_id"))
    out = asof_bracket(probe, ref, "k", "t", F.struct("t", "ref_id")).collect()
    # each frame's fields come from one ref row
    carried = [f for r in out for f in (r["prev"], r["next"]) if f is not None]
    assert all(rows[f["ref_id"]][2] == f["t"] for f in carried)
    got = {r["id"]: (r["prev"] and r["prev"]["t"], r["next"] and r["next"]["t"]) for r in out}
    want = {}
    for i, k, t, is_probe in rows:
        if is_probe:
            refs = [rt for _, rk, rt, rp in rows if not rp and rk == k]
            want[i] = (
                max((rt for rt in refs if rt <= t), default=None),
                min((rt for rt in refs if rt > t), default=None),
            )
    assert got == want


@given(
    vals=st.lists(st.floats(0, 50, allow_nan=False, width=32), min_size=0, max_size=30),
)
@settings(**SETTINGS)
def test_band_join_bucketing_matches_bruteforce(spark, vals):
    """Bucketized band join (equi-join on bucket, bucket+1) must find
    exactly the naive O(n²) band pairs."""
    band = 1.0
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, v double").withColumn(
        "bucket", F.floor(F.col("v") / band)
    )
    a = df.select(F.col("id").alias("ia"), F.col("v").alias("va"), "bucket")
    b = df.select(
        F.col("id").alias("ib"),
        F.col("v").alias("vb"),
        F.explode(F.array(F.col("bucket"), F.col("bucket") + 1)).alias("bucket"),
    )
    got = {
        (r["ia"], r["ib"])
        for r in a.join(b, "bucket")
        .filter((F.col("ia") < F.col("ib")) & F.col("vb").between(F.col("va") - band, F.col("va")))
        .collect()
    }
    want = {
        (i, j)
        for i, vi in rows
        for j, vj in rows
        if i < j and vi - band <= vj <= vi
    }
    assert got == want


@given(
    n=st.integers(2, 20),
    seed=st.integers(0, 2**16),
    tau=st.floats(-0.5, 0.9),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_blocked_threshold_tier_matches_bruteforce(spark, n, seed, tau):
    """The distributed block-pair tier must equal naive O(n²) pairs for
    ANY corpus size, block size, and threshold — including block counts
    that don't divide the corpus and blocks left empty by hash gaps."""
    import numpy as np

    from pyspark_caffe_spark import vecops

    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, 6))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        schema="vec_id long, emb array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in vecops.threshold_pairs(
            df, tau=tau, broadcast_max_rows=0, block_rows=3
        ).collect()
    }
    scores = np.round(mat @ mat.T, 6)
    want = {
        (i, j) for i in range(n) for j in range(i + 1, n) if scores[i, j] >= tau
    }
    assert got == want


def test_decimal_sums_partition_invariant(spark, sf_dir):
    """The round-7 decimal-sum contract: monetary aggregates cast
    per-row to DECIMAL(18,4) must be EXACTLY identical under any
    partitioning (double sums are not — their value depends on
    reduction order).  Re-running q9/q10 on a hostile repartition must
    produce byte-identical results."""
    from pyspark_caffe_spark.queries import QUERIES
    from pyspark_caffe_spark.tables import load_table

    base = {
        tuple(r)
        for r in QUERIES["agg_q9_profit"](spark, sf_dir).collect()
    }

    # same plan, but force a 7-way round-robin repartition of lineitem
    # via a patched loader: reduction order is now completely different
    import pyspark_caffe_spark.queries.tpch_ext as tx

    orig = tx.load_table

    def hostile(spark_, sf_, name):
        df = orig(spark_, sf_, name)
        return df.repartition(7) if name == "lineitem" else df

    tx.load_table = hostile
    try:
        repart = {
            tuple(r)
            for r in QUERIES["agg_q9_profit"](spark, sf_dir).collect()
        }
    finally:
        tx.load_table = orig
    assert base == repart


@given(
    tau=st.floats(min_value=0.05, max_value=0.99),
    na=st.integers(min_value=100, max_value=10_000_000),
    nb=st.integers(min_value=100, max_value=10_000_000),
)
@settings(max_examples=200, deadline=None)
def test_auto_geometry_invariants(tau, na, nb):
    """auto_geometry (vecops): the joint (P, bands) sizing must
    respect its own contract for ANY corpus shape — P within its
    clamps and never below the occupancy floor, bands within the
    auto_bands clamps, junk-candidate load within ~2× the linear
    budget (P is integer so one doubling of slack is inherent), and
    the predicted recall only falls short of target when the band
    clamp binds (the explicit infeasibility signal the routers act
    on)."""
    import math

    from pyspark_caffe_spark.vecops import auto_bands, auto_geometry

    planes, bands, predicted = auto_geometry(tau, na, nb)
    n_max = max(na, nb)
    occupancy_floor = min(12, max(4, math.ceil(math.log2(max(2, n_max / 1024)))))
    assert occupancy_floor <= planes <= 24
    assert 8 <= bands <= 96
    assert bands == auto_bands(tau, planes, 0.9)
    # candidate economy: junk ≈ bands*na*nb/2^P ≤ 2× the linear budget
    # (integer P: the fixed point can sit one doubling above target),
    # UNLESS the P clamp (24) itself binds
    junk = bands * float(na) * float(nb) / 2.0**planes
    if planes < 24:
        assert junk <= 2 * 256 * (na + nb) + 1
    # infeasibility is always an explicit signal, never silent: if the
    # target was reachable (bands below clamp), predicted ≥ target
    if bands < 96:
        assert predicted >= 0.9 - 1e-9


@given(vals=st.lists(st.integers(0, 30), min_size=1, max_size=60))
@settings(**SETTINGS)
def test_cdf_bounds_are_order_statistics(spark, vals):
    """_rfm_cdf_bounds (events_rfm / corpus_curriculum) must return the
    SQL-standard discrete quintile boundaries for ANY integer value
    multiset: boundary_k = the ceil(k·n/5)-th smallest value, and
    bucketing by comparison puts at least ceil(k·n/5) values at or
    below bucket k."""
    import math

    from pyspark_caffe_spark.queries.analytics_ext import _rfm_cdf_bounds

    df = spark.createDataFrame([(int(v),) for v in vals], schema="v long")
    n_df = df.agg(F.count("*").alias("n"))
    row = _rfm_cdf_bounds(df, "v", n_df, "b").collect()[0]
    n = len(vals)
    s = sorted(vals)
    for k in (1, 2, 3, 4):
        want = s[math.ceil(k * n / 5) - 1]
        assert row[f"b{k}"] == want, (vals, k, row, want)
    for k in (1, 2, 3, 4):
        cum = sum(1 for v in vals if v <= row[f"b{k}"])
        assert cum >= math.ceil(k * n / 5)
    assert row["b1"] <= row["b2"] <= row["b3"] <= row["b4"]


def test_containment_df_headroom(spark, sf_dir):
    """text_containment's DuckDB oracle carries NO document-frequency
    cap while containment_pairs drops shingles with df > 1024 — parity
    is honest only while the fixture's max shingle df stays far below
    the guard.  Assert ≥100× headroom on the ACTUAL perturbed fixture
    so any future corpus change that approaches the cap fails loudly
    here instead of flaking in the driver sweep (round-10 ADVICE)."""
    from pyspark_caffe_spark import textops
    from pyspark_caffe_spark.queries.llm import _perturbed_docs
    from pyspark_caffe_spark.tables import load_table

    docs = _perturbed_docs(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(textops.shingles_of("text", 4))).alias("sh"),
    )
    max_df = sh.groupBy("sh").count().agg(F.max("count")).collect()[0][0]
    assert max_df is not None and max_df <= 1024 // 100, (
        f"fixture max shingle df {max_df} is within 100x of the 1024 "
        "containment_pairs guard; mirror the cap in the oracle SQL"
    )
