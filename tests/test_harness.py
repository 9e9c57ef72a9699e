"""Guards on the driver-contract harness itself (__spark_entry__).

The sweep-order logic decides WHICH keys get driver evidence each
round (the driver checks ~50 keys/round in ``queries()`` order), so a
silent ordering regression strands keys without CORRECTNESS rows for
rounds at a time — exactly what happened to ml_kmeans/ml_train_mllib
in r01–r04.  These tests pin the ordering contract against synthetic
CORRECTNESS fixtures so it can't drift.
"""

from __future__ import annotations

import importlib.util
import json
import os
from unittest import mock


import __spark_entry__ as entry
from pyspark_caffe_spark import tables
from pyspark_caffe_spark.queries import ORACLES, QUERIES


def _order_with_rows(monkeypatch, rows: dict) -> list[str]:
    monkeypatch.setattr(entry, "_driver_rows", lambda: rows)
    # the code-changed re-sweep set varies per round; ordering tests
    # that aren't ABOUT it must not depend on its current content
    # (test_sweep_order_rechecks_code_changed_keys installs its own
    # synthetic set AFTER calling this helper)
    monkeypatch.setattr(entry, "_CODE_CHANGED", {})
    return list(entry.queries())


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED_HASH = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None, "err": "no_oracle"}


def test_sweep_order_lists_name_registered_keys():
    """Every _CODE_CHANGED and _EXPENSIVE_LAST entry is a QUERIES key:
    a misspelt entry would silently never reorder anything."""
    assert set(entry._CODE_CHANGED) <= set(QUERIES), set(entry._CODE_CHANGED) - set(QUERIES)
    assert set(entry._EXPENSIVE_LAST) <= set(QUERIES), set(entry._EXPENSIVE_LAST) - set(QUERIES)


def test_sweep_order_red_then_unswept_then_green(monkeypatch):
    """Red keys first, never-swept second, green last."""
    keys = list(QUERIES)
    red_key, green_key = keys[0], keys[1]
    unswept_key = keys[2]
    rows = {k: dict(GREEN) for k in keys}
    rows[red_key] = dict(RED_HASH)
    del rows[unswept_key]
    order = _order_with_rows(monkeypatch, rows)
    assert order[0] == red_key
    assert order[1] == unswept_key
    assert set(order[2:]) == set(keys) - {red_key, unswept_key}


def test_sweep_order_never_swept_before_green(monkeypatch):
    """A key with NO driver row in any round must precede every green
    key — this is the exact regression that left ml_kmeans unswept."""
    keys = list(QUERIES)
    rows = {k: dict(GREEN) for k in keys}
    for never_swept in ("ml_kmeans", "ml_train_mllib"):
        rows.pop(never_swept, None)
    order = _order_with_rows(monkeypatch, rows)
    first_green = next(i for i, k in enumerate(order) if rows.get(k))
    for never_swept in ("ml_kmeans", "ml_train_mllib"):
        assert order.index(never_swept) < first_green


def test_sweep_order_graduated_rows_only_resweeps(monkeypatch):
    """A rows-only row whose key HAS a hash oracle now (graduated —
    since round 6 EVERY key has one) must re-sweep (group 1).  The
    registry's rows-only set is empty, so the no-oracle branch is
    exercised by faking one key out of ORACLES."""
    keys = list(QUERIES)
    oracled, faked_unoracled = keys[0], keys[1]
    assert oracled in ORACLES
    fake_oracles = {k: v for k, v in ORACLES.items() if k != faked_unoracled}
    monkeypatch.setattr(entry, "ORACLES", fake_oracles)
    rows = {k: dict(GREEN) for k in QUERIES}
    rows[oracled] = dict(ROWS_ONLY)
    rows[faked_unoracled] = dict(ROWS_ONLY)
    order = _order_with_rows(monkeypatch, rows)
    greens = [k for k in QUERIES if k not in (oracled, faked_unoracled)]
    assert order.index(oracled) < min(order.index(k) for k in greens)
    # unoracled rows-only that ran clean: nothing new to learn
    assert order.index(faked_unoracled) > order.index(oracled)


def test_sweep_order_expensive_sinks_within_group(monkeypatch):
    """_EXPENSIVE_LAST keys sort after cheap keys of the same group so
    a wall-clock-budgeted sweep maximizes keys checked before cutoff."""
    rows: dict = {}  # nothing swept: everything is group 1
    order = _order_with_rows(monkeypatch, rows)
    cheap_max = max(
        order.index(k) for k in QUERIES if k not in entry._EXPENSIVE_LAST
    )
    exp_min = min(
        order.index(k) for k in entry._EXPENSIVE_LAST if k in QUERIES
    )
    assert cheap_max < exp_min


def test_sweep_order_green_keys_stalest_first(monkeypatch):
    """Within the green group, keys whose surviving CORRECTNESS row is
    oldest re-sweep first — the driver checks ~50 keys/round, so
    without this, r01-stamped evidence never refreshes."""
    keys = [k for k in QUERIES if k not in entry._EXPENSIVE_LAST]
    old_key, fresh_key = keys[0], keys[1]
    rows = {k: {**GREEN, "_round": 5} for k in QUERIES}
    rows[old_key] = {**GREEN, "_round": 1}
    rows[fresh_key] = {**GREEN, "_round": 5}
    order = _order_with_rows(monkeypatch, rows)
    assert order.index(old_key) < order.index(fresh_key)
    # oldest green key precedes every same-cost green key of round 5
    assert order.index(old_key) == min(
        order.index(k) for k in keys
    )


def test_driver_rows_latest_round_wins_with_deterministic_tiebreak(
    monkeypatch, tmp_path
):
    """r10 must beat r2 (numeric, not lexicographic order), and two
    files with the SAME round number (r4 vs r04) resolve by path so the
    winner is deterministic regardless of glob order."""
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"k": {"v": "r2"}}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"k": {"v": "r10"}}))
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps({"t": {"v": "zero-padded"}}))
    (tmp_path / "CORRECTNESS_r4.json").write_text(json.dumps({"t": {"v": "bare"}}))
    monkeypatch.setattr(entry, "_REPO_DIR", str(tmp_path))
    rows = entry._driver_rows()
    assert rows["k"] == {"v": "r10", "_round": 10}
    # same round number: lexicographically later path wins — the value
    # matters less than that it NEVER flips between runs
    assert rows["t"] == {"v": "bare", "_round": 4}


def test_stream_tws_gate_matches_dependency():
    """stream_tws registers iff google.protobuf is importable — the
    gate is feature-detection, not dead code.  In this container the
    dependency is absent, so the key must be absent too (and
    stream_stateful covers the stateful-streaming capability)."""
    from pyspark_caffe_spark.queries import streaming as streaming_mod

    has_pb = importlib.util.find_spec("google") is not None and (
        importlib.util.find_spec("google.protobuf") is not None
    )
    assert streaming_mod._HAS_TWS_DEPS == has_pb
    assert ("stream_tws" in QUERIES) == has_pb
    if has_pb:  # when deps exist the key must also carry its oracle
        assert "stream_tws" in ORACLES


def test_ensure_session_confs_memoized_but_verifying(spark):
    """The memoized fast path must still VERIFY (read-only gets) and
    re-correct external drift: a grading harness resetting
    session.timeZone on the live session mid-run would silently skew
    every timestamp if memoization skipped the check entirely
    (ADVICE r5)."""
    tables.ensure_session_confs(spark)
    assert spark in tables._CONFIGURED_SESSIONS

    # memoized + in-sync: must not SET (sets invalidate cached plans)
    calls: list = []
    real_set = spark.conf.set
    with mock.patch.object(
        spark.conf, "set", side_effect=lambda *a: calls.append(a)
    ):
        tables.ensure_session_confs(spark)
    assert calls == [], "set() called although confs were already correct"

    # externally drifted: the next ensure must restore both confs
    real_set("spark.sql.session.timeZone", "America/New_York")
    try:
        tables.ensure_session_confs(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        real_set("spark.sql.session.timeZone", "UTC")


def test_lcg_hash_reduces_before_multiply(spark):
    """The hash-gate LCG must not overflow on ids past 8.4e9: the id is
    reduced mod 2^31 - 1 before the multiply, so under ANSI mode id
    10^10 neither raises ARITHMETIC_OVERFLOW nor wraps, and the result
    is the exact modular value."""
    from pyspark.sql import functions as F

    p, big = (1 << 31) - 1, 10**10
    want = ((big % p) * 1103515245 + 12345) % p
    real_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = spark.range(1).select(tables.lcg_hash(F.lit(big))).first()[0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", real_ansi)
    assert got == want


def _next_job_id(spark) -> int:
    """The id the DAG scheduler will give the next submitted job."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_get_spark_compresses_io_with_zstd(spark):
    """Shuffle, broadcast and spill blocks of a ``get_spark`` session
    are zstd-compressed (Spark's default is lz4)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.io.compression.codec") == "zstd"


def test_load_table_cached_schema_runs_no_job(spark, sf_dir):
    """Inferring a parquet schema is a footer-reading Spark job; once a
    file's schema is cached, a load builds its plan with none.  The
    footer row count runs no Spark job at all."""
    tables.load_table(spark, sf_dir, "orders")
    before = _next_job_id(spark)
    df = tables.load_table(spark, sf_dir, "orders")
    n = tables.row_count(spark, sf_dir, "orders")
    assert _next_job_id(spark) == before, "a cached-schema load ran a Spark job"
    assert "o_orderkey" in df.columns
    assert n == df.count()


def test_load_table_self_join_of_two_loads(spark, sf_dir):
    """Only the schema is cached: each load is a fresh relation with
    fresh attribute ids, so two loads of ``events`` self-join in the
    join_theta_range pattern without ambiguous column references (a
    shared DataFrame raises AnalysisException here)."""
    from pyspark.sql import functions as F

    a = tables.load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    b = tables.load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    n = a.join(
        b,
        (a["event_id"] < b["event_id"])
        & b["value"].between(a["value"] - 1, a["value"]),
    ).count()
    assert n == QUERIES["join_theta_range"](spark, sf_dir).count()


def test_load_table_reinfers_rewritten_file(spark, sf_dir, tmp_path):
    """The caches are keyed on the file's (path, mtime, size): rewriting
    a table makes the next load infer its schema again and the next
    row count read the new footer."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    d = str(tmp_path)
    assert "r_extra" not in tables.load_table(spark, d, "region").columns
    n = tables.row_count(spark, d, "region")
    before = _next_job_id(spark)
    tables.load_table(spark, d, "region")
    assert _next_job_id(spark) == before

    t = pq.read_table(tmp_path / "region.parquet")
    t = t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64()))
    t = pa.concat_tables([t, t])
    pq.write_table(t, tmp_path / "region.parquet")
    before = _next_job_id(spark)
    df = tables.load_table(spark, d, "region")
    assert _next_job_id(spark) > before, "rewritten file was not re-inferred"
    assert "r_extra" in df.columns
    assert df.count() == t.num_rows == tables.row_count(spark, d, "region") == 2 * n


def _write_dims(d, nations, regions) -> str:
    """Write ``nation`` and ``region`` parquet files of the given rows
    into the directory ``d`` (made if missing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir(exist_ok=True)
    key, name = pa.int32(), pa.string()
    for table, rows, schema in (
        ("nation", nations, [("n_nationkey", key), ("n_name", name), ("n_regionkey", key)]),
        ("region", regions, [("r_regionkey", key), ("r_name", name)]),
    ):
        cols = [c for c, _ in schema]
        t = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], pa.schema(schema))
        pq.write_table(t, f"{d}/{table}.parquet")
    return str(d)


def test_nation_lookup_runs_no_job(spark, sf_dir, tmp_path):
    """The nation/region lookup reads both tables with pyarrow on the
    driver: even its first call on a file runs no Spark job.  A path
    ``os.stat`` cannot see takes the Spark-collect fallback and gives
    the same lookup."""
    import shutil

    for t in ("nation", "region"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    d = str(tmp_path)
    before = _next_job_id(spark)
    everything = tables.nation_lookup(spark, d)
    asia = tables.nation_lookup(spark, d, ["ASIA"])
    assert _next_job_id(spark) == before, "the nation lookup ran a Spark job"
    assert len(everything) == 25
    assert asia and all(n.r_name == "ASIA" for n in asia.values())
    assert asia == {k: n for k, n in everything.items() if n.r_name == "ASIA"}
    assert tables.nation_lookup(spark, f"file://{d}") == everything


def test_nation_lookup_follows_rewritten_file(spark, tmp_path):
    """The lookup is cached per file version: a rewritten nation table
    is read again."""
    d = _write_dims(tmp_path, [(0, "N0", 0)], [(0, "R0")])
    assert tables.nation_lookup(spark, d) == {0: tables.Nation("N0", 0, "R0")}
    _write_dims(tmp_path, [(0, "N0-renamed", 0), (1, "N1", 0)], [(0, "R0")])
    assert tables.nation_lookup(spark, d) == {
        0: tables.Nation("N0-renamed", 0, "R0"),
        1: tables.Nation("N1", 0, "R0"),
    }


def test_nation_lookup_raises_on_duplicate_key_or_over_cap(spark, tmp_path):
    """A duplicate key or an over-cap table would change what the join
    it stands for returns, so the lookup raises instead."""
    import pytest

    d = _write_dims(tmp_path / "a", [(0, "N0", 0), (0, "N0b", 0)], [(0, "R0")])
    with pytest.raises(ValueError, match="n_nationkey is not unique"):
        tables.nation_lookup(spark, d)
    d = _write_dims(tmp_path / "b", [(0, "N0", 0)], [(0, "R0"), (0, "R0b")])
    with pytest.raises(ValueError, match="r_regionkey is not unique"):
        tables.nation_lookup(spark, d)
    many = [(k, f"N{k}", 0) for k in range(tables.DIM_ROW_CAP + 1)]
    d = _write_dims(tmp_path / "c", many, [(0, "R0")])
    with pytest.raises(ValueError, match="not a fixed-size dimension"):
        tables.nation_lookup(spark, d)


def test_nation_lookup_drops_what_an_inner_join_drops(spark, tmp_path):
    """A null nation key never joins, so it is dropped.  A nation whose
    region key is null or matches no region is dropped once the lookup
    is limited to region names (nation ⋈ region); without a limit the
    lookup is nation alone and keeps it with a null ``r_name``."""
    d = _write_dims(
        tmp_path,
        [(None, "NULLKEY", 0), (1, "N1", 0), (2, "ORPHAN", 9), (3, "NOREGION", None)],
        [(0, "R0"), (None, "R0")],
    )
    assert tables.nation_lookup(spark, d) == {
        1: tables.Nation("N1", 0, "R0"),
        2: tables.Nation("ORPHAN", 9, None),
        3: tables.Nation("NOREGION", None, None),
    }
    assert tables.nation_lookup(spark, d, ["R0"]) == {1: tables.Nation("N1", 0, "R0")}


def test_load_table_events_ts_is_timestamp(spark, sf_dir):
    """The cached schema still drives the events ts normalisation."""
    from pyspark.sql.types import TimestampType

    for _ in range(2):  # first load infers, second reads the cache
        df = tables.load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)


def test_recycle_session_resets_process_globals(monkeypatch):
    """``recycle_session`` (round-10 verdict #6: the JVM-hygiene
    recipe promoted from tools/parity_super100.py into the library)
    must stop live sessions — including extra handles passed via
    ``also_stop`` — shut down the py4j gateway, end and reap the old
    JVM process (stdin closed, terminated, waited on), null every
    pyspark process global ``getOrCreate`` consults, and return whatever
    ``get_spark`` builds.  All of it exception-tolerantly: the whole
    point is to run while the JVM is in an arbitrary state of dead
    (here, ``getActiveSession`` raising and one session whose
    ``stop()`` raises — both observed failure modes of a dead
    gateway).  Pure monkeypatch unit test: no real JVM is restarted
    (a real recycle costs ~15 s and would kill the shared fixture)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import pyspark_caffe_spark.session as sess

    stopped: list[str] = []

    class FakeSession:
        def __init__(self, name: str, raise_on_stop: bool = False):
            self.name, self.raise_on_stop = name, raise_on_stop

        def stop(self):
            stopped.append(self.name)
            if self.raise_on_stop:
                raise RuntimeError("py4j socket closed")

    class FakeStdin:
        closed = False

        def close(self):
            self.closed = True

    class FakeProc:
        terminated = reaped = False

        def __init__(self):
            self.stdin = FakeStdin()

        def terminate(self):
            self.terminated = True

        def wait(self, timeout=None):
            self.reaped = True
            return 0

    class FakeGateway:
        down = False

        def __init__(self):
            self.proc = FakeProc()

        def shutdown(self):
            self.down = True

    def raising_get_active():
        raise RuntimeError("dead gateway: reflection failed")

    gw = FakeGateway()
    inst = FakeSession("instantiated", raise_on_stop=True)
    extra = FakeSession("extra")
    sentinel = object()

    monkeypatch.setattr(
        SparkSession, "getActiveSession", staticmethod(raising_get_active)
    )
    monkeypatch.setattr(SparkSession, "_instantiatedSession", inst, raising=False)
    monkeypatch.setattr(SparkSession, "_activeSession", inst, raising=False)
    monkeypatch.setattr(SparkSession, "_defaultSession", inst, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", gw, raising=False)
    monkeypatch.setattr(SparkContext, "_jvm", object(), raising=False)
    monkeypatch.setattr(
        SparkContext, "_active_spark_context", object(), raising=False
    )
    monkeypatch.setattr(sess, "get_spark", lambda app_name, cpus=None: sentinel)

    out = sess.recycle_session("test-recycle", also_stop=(extra,))

    assert out is sentinel, "must return whatever get_spark builds"
    assert stopped == ["extra", "instantiated"], stopped
    assert gw.down, "gateway.shutdown() not called"
    assert gw.proc.stdin.closed, "old JVM's stdin left open"
    assert gw.proc.terminated and gw.proc.reaped, "old JVM left running"
    for attr in ("_gateway", "_jvm", "_active_spark_context"):
        assert getattr(SparkContext, attr) is None, attr
    for attr in ("_instantiatedSession", "_activeSession", "_defaultSession"):
        assert getattr(SparkSession, attr) is None, attr

    # hasattr guard (round-11 advice): a global the installed pyspark
    # does NOT define (_defaultSession was removed upstream; 4.1.2 has
    # only _instantiatedSession/_activeSession) must not be fabricated
    # as a dead class attribute by the reset loop.
    monkeypatch.delattr(SparkSession, "_defaultSession", raising=False)
    sess.recycle_session("test-recycle-2")
    assert not hasattr(SparkSession, "_defaultSession"), (
        "reset loop fabricated a class attribute pyspark never defines"
    )


def test_sweep_order_rechecks_code_changed_keys(monkeypatch):
    """A green driver row that validates OLDER code than the tree
    (entry._CODE_CHANGED maps key → round its implementation changed)
    must re-sweep ahead of the green pool — and stop doing so once a
    row from that round (or later) exists.  Uses a synthetic
    _CODE_CHANGED so the pin survives the real set changing every
    round."""
    keys = [k for k in QUERIES if k not in entry._EXPENSIVE_LAST]
    changed, need = keys[3], 7
    # stale green row (validates pre-change code) → group 1 (front)
    rows = {k: {**GREEN, "_round": need - 1} for k in QUERIES}
    monkeypatch.setattr(entry, "_driver_rows", lambda: rows)
    monkeypatch.setattr(entry, "_CODE_CHANGED", {changed: need})
    order = list(entry.queries())
    assert order.index(changed) == 0, (
        f"{changed} (row r{need - 1} < change r{need}) must re-sweep first"
    )
    # fresh green row (validates the changed code) → back to group 2
    rows2 = {k: {**GREEN, "_round": 1} for k in QUERIES}
    rows2[changed] = {**GREEN, "_round": need}
    monkeypatch.setattr(entry, "_driver_rows", lambda: rows2)
    order = list(entry.queries())
    assert order.index(changed) > len(keys) // 2, (
        "a row at/after the change round must rejoin normal staleness order"
    )


def test_rotation_quota_covers_whole_oldest_expensive_tier(monkeypatch):
    """The rotation quota must promote EVERY expensive green key in the
    oldest evidence tier, not a fixed 5 — the round-12 regression: six
    r6-stamped expensive keys with a 5-slot quota left the
    registry-order tiebreak loser stranded past position 250 while the
    budget-limited sweep needed the full tier cleared.  The cap-at-8
    applies ONLY when the whole oldest tier (cheap + expensive)
    outgrows one ~50-key budget — the round-13 refinement: a 41-key r7
    tier with nine expensive members fits the budget entirely, so a
    blanket cap would strand the ninth for a round with zero benefit."""
    expensive = [k for k in QUERIES if k in entry._EXPENSIVE_LAST]
    cheap = [k for k in QUERIES if k not in entry._EXPENSIVE_LAST]
    assert len(expensive) >= 10, "fixture premise: enough expensive keys"

    def order_with_tier(
        n_oldest: int, n_cheap_oldest: int = 0, n_unswept: int = 0
    ) -> list[str]:
        rows = {k: {**GREEN, "_round": 9} for k in QUERIES}
        for k in expensive[:n_oldest]:
            rows[k] = {**GREEN, "_round": 6}
        for k in cheap[:n_cheap_oldest]:
            rows[k] = {**GREEN, "_round": 6}
        for k in cheap[n_cheap_oldest:n_cheap_oldest + n_unswept]:
            del rows[k]  # group 1: no driver row yet
        monkeypatch.setattr(entry, "_driver_rows", lambda: rows)
        monkeypatch.setattr(entry, "_CODE_CHANGED", {})
        return list(entry.queries())

    # 6-key oldest tier: ALL six must sort into the front of group 2
    order = order_with_tier(6)
    worst = max(order.index(k) for k in expensive[:6])
    n_cheap = len(cheap)
    assert worst < 50, f"an oldest-tier expensive key stranded at {worst}"

    # 10-expensive-key oldest tier that FITS the budget (tier_all=10):
    # all 10 promote — no key may strand when the sweep would reach the
    # whole tier anyway
    order = order_with_tier(10)
    positions = sorted(order.index(k) for k in expensive[:10])
    assert sum(1 for p in positions if p < 50) == 10, positions

    # oversized oldest tier (10 expensive + 40 cheap = 50 > 45): the
    # cap kicks in — exactly 8 promote, 2 sink past the cheap pool so
    # cheap stale keys keep most of the budget
    order = order_with_tier(10, n_cheap_oldest=40)
    positions = sorted(order.index(k) for k in expensive[:10])
    assert sum(1 for p in positions if p < 50) == 8, positions
    assert positions[-1] > n_cheap, "unpromoted keys must sink past the cheap pool"

    # group-0/1 keys consume budget AHEAD of the promoted tier and
    # must count toward the fit check: a 10-key expensive tier that
    # would fit alone (10 ≤ 45) does NOT fit behind 40 unswept keys
    # (40 + 10 = 50 > 45), so the cap must kick in — the round-13
    # review finding on the original bucket-only fit test
    order = order_with_tier(10, n_unswept=40)
    positions = sorted(order.index(k) for k in expensive[:10])
    assert sum(1 for p in positions if p < 50) == 8, positions


def test_driver_rows_never_raises_fuzz(tmp_path, monkeypatch):
    """Round-17: property-pin the graded surface's own evidence
    loader — ``_driver_rows`` feeds the sweep ORDER, so a crash on a
    torn/garbage CORRECTNESS_r*.json would break ``queries()`` for
    the grading driver itself.  UnicodeDecodeError is a ValueError
    subclass (covered by the existing guard) and non-dict tops /
    non-dict rows are isinstance-filtered; this pins both so a
    future narrowing fails a test, not a round."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    monkeypatch.setattr(entry, "_REPO_DIR", str(tmp_path))

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=256))
    def check(blob: bytes) -> None:
        (tmp_path / "CORRECTNESS_r3.json").write_bytes(blob)
        rows = entry._driver_rows()
        assert isinstance(rows, dict)
        for k, row in rows.items():
            assert isinstance(row, dict) and isinstance(row.get("_round"), int)

    check()
    # wrong-shape-but-valid JSON degrades row-by-row, healthy rows load
    (tmp_path / "CORRECTNESS_r3.json").write_text(
        '{"a": {"hash_match": true}, "b": [1], "c": "x"}'
    )
    rows = entry._driver_rows()
    assert rows == {"a": {"hash_match": True, "_round": 3}}


_DIGEST_COLS = {
    "b": "CAST(7 AS BIGINT)",
    "d": "CAST(12.34 AS DECIMAL(12,2))",
    "s": "'abc'",
    "ts": "TIMESTAMP '2024-01-01 00:00:00'",
    "dt": "DATE '2024-01-02'",
    "x": "CAST(0.5 AS DOUBLE)",
}


def _digest_sql(**over: str) -> str:
    """Two rows, valid in Spark SQL and DuckDB: the literals (with
    ``over`` replacing some) and a copy with three columns NULL."""
    row = ", ".join(f"{v} AS {k}" for k, v in {**_DIGEST_COLS, **over}.items())
    return (
        f"WITH r AS (SELECT {row}) SELECT * FROM r "
        "UNION ALL SELECT b, NULL AS d, s, NULL AS ts, dt, NULL AS x FROM r"
    )


def test_assert_digest_parity_catches_one_unit_changes(spark, monkeypatch):
    """The digest tier passes equal frames and fails on a one-unit
    change in each exactly-summed type, on an extra column and on a
    dtype drift."""
    import duckdb
    import pytest

    from tests import parity

    # No oracle returns a decimal, so the dtype map has no DECIMAL
    # entry; register one so the decimal digest term is what is tested.
    monkeypatch.setitem(parity._TYPE_COMPAT, "DECIMAL(12,2)", {"decimal(12,2)"})
    df = spark.sql(_digest_sql())
    con = duckdb.connect()
    # COUNT(*), six non-null counts, five sums (the double has none)
    assert parity.assert_digest_parity(df, con, _digest_sql(), "equal") == 12
    planted = {
        "bigint": (_digest_sql(b="CAST(8 AS BIGINT)"), "digest mismatch"),
        "decimal": (_digest_sql(d="CAST(12.35 AS DECIMAL(12,2))"), "digest mismatch"),
        "string": (_digest_sql(s="'abcd'"), "digest mismatch"),
        "timestamp": (
            _digest_sql(ts="TIMESTAMP '2024-01-01 00:00:00.000001'"),
            "digest mismatch",
        ),
        "date": (_digest_sql(dt="DATE '2024-01-03'"), "digest mismatch"),
        "extra column": (f"SELECT *, 1 AS extra FROM ({_digest_sql()})", "column mismatch"),
        "dtype drift": (_digest_sql(b="CAST(7 AS INTEGER)"), "dtype mismatch"),
    }
    for name, (sql, why) in planted.items():
        with pytest.raises(AssertionError, match=why):
            parity.assert_digest_parity(df, con, sql, name)
    con.close()


def test_bench_named_key_prints_one_line(spark, sf_dir, monkeypatch, capsys):
    """``bench.py KEY`` times exactly that key and prints one JSON line
    whose ``value`` is the sum of the per-key medians."""
    import pytest

    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    assert bench.main(["--sf", sf_dir, "agg_q6_selective"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1, lines
    rec = json.loads(lines[0])
    assert list(rec["queries"]) == ["agg_q6_selective"] == list(rec["queries_min"])
    assert rec["value"] == pytest.approx(sum(rec["queries"].values()))
    assert set(rec) == {"metric", "value", "unit", "sf", "queries", "queries_min"}


def test_parity_super100_resume_carries_digest_pairs(tmp_path):
    """A resumed 100x sweep carries a digest parent and its ``__slice``
    companion together or not at all, drops the greens of a slice
    rebuilt since, and starts fresh from a torn artifact."""
    spec = importlib.util.spec_from_file_location(
        "parity_super100",
        os.path.join(os.path.dirname(entry.__file__), "tools", "parity_super100.py"),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    prior = {
        "stream_dedup": {"status": "digest_pass"},
        "stream_dedup__slice": {"status": "slice_FAIL"},
        "stream_session_drain": {"status": "digest_pass"},  # companion missing
        "stream_recovery": {"status": "digest_pass"},
        "stream_recovery__slice": {"status": "excluded"},
        "stream_dedup_watermark": {"status": "digest_pass"},
        "stream_dedup_watermark__slice": {"status": "slice_pass"},
        "agg_hash_groupby": {"status": "pass"},
        "join_multiway": {"status": "FAIL"},
        "sim_knn_exact": {"status": "slice_pass"},
    }
    out = tmp_path / "out.json"
    out.write_text(json.dumps({"results": prior}))
    data = str(tmp_path)  # holds no parquet, so the dataset guard is idle
    got = tool.load_prior(str(out), data, {"emb8k": 0.0})
    assert set(got) == {
        "stream_recovery", "stream_recovery__slice",
        "stream_dedup_watermark", "stream_dedup_watermark__slice",
        "agg_hash_groupby", "sim_knn_exact",
    }
    rebuilt = tool.load_prior(str(out), data, {"emb8k": out.stat().st_mtime + 1})
    assert "sim_knn_exact" not in rebuilt and "agg_hash_groupby" in rebuilt
    out.write_text("[]")
    assert tool.load_prior(str(out), data, {}) == {}
