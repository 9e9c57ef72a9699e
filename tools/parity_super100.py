#!/usr/bin/env python
"""Registry-wide DuckDB value-parity sweep on K×-replicated data
(``tools/make_superscale.py``; 100× by default), not the sf0.01 of
the test suite.

Scale-only bugs hide from sf0.01: rounding on big-magnitude float
aggregates, window frames over 100× partitions, join results crossing
broadcast/SMJ strategy changes, overflow in hash gates.  Every key
with an oracle runs, and each result is checked by one of three tiers:

* ``pass`` — ``tests.parity.assert_parity``, the full value hash, for
  results of at most ``ROW_CAP`` rows;
* ``digest_pass`` — ``tests.parity.assert_digest_parity``, an exact
  order-insensitive digest, for larger results.  Keys whose output is
  one row per event also get a ``<key>__slice`` companion: the value
  hash of an LCG-gated slice of the output (the same cross-engine mix
  as the CC keys), with the gate modulus (at least 16) chosen from the
  row count so the slice fits under the cap.  A slice still over the
  cap is recorded ``excluded``;
* ``slice_pass`` — the value hash on a bounded slice of the input,
  for keys whose DuckDB oracle is quadratic (``BOUNDED_SLICE``), and
  for the ``SUPPLEMENTAL`` float check.

Results are written after every key, and a rerun resumes: greens
carry over unless the dataset or a slice changed since.

Usage: python tools/parity_super100.py [super_dir] [out_json]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark_caffe_spark import get_spark, recycle_session  # noqa: E402
from pyspark_caffe_spark.queries import ORACLES, QUERIES  # noqa: E402
from pyspark_caffe_spark.tables import LCG_SQL, TABLE_NAMES  # noqa: E402
from tests.parity import assert_digest_parity, assert_parity  # noqa: E402

ROW_CAP = 200_000
GREEN = ("pass", "digest_pass", "slice_pass")

# Keys run on a bounded slice of the input.  The bound prices the
# quadratic DuckDB ORACLE (200k vectors → 2e10 pairs), not the
# operator; each slice still exceeds the sf0.1 fixture severalfold.
_EMB_SLICE = "8192-vector bounded slice (4x the sf0.1 corpus, 16x the pairs)"
BOUNDED_SLICE = {
    "sim_knn_exact": ("emb8k", _EMB_SLICE),
    "sim_threshold_join": ("emb8k", _EMB_SLICE),
    "sim_optimizer_rewrite": ("emb8k", _EMB_SLICE),
    "dedup_embed_cosine": ("emb8k", _EMB_SLICE),
    "sim_knn_lsh": ("emb8k", _EMB_SLICE + " (MLlib approxSimilarityJoin)"),
    "sim_lsh_bucketed": ("emb8k", _EMB_SLICE),
    "sim_auto_threshold": ("emb8k", _EMB_SLICE),
    "sim_bipartite_auto": ("emb8k", _EMB_SLICE),
    "text_common_spans": (
        "docs20k",
        "20k-document bounded slice (4x the sf0.1 corpus)",
    ),
}

#: entries run after the registry loop: (result key, registry key,
#: slice kind, note).  Module scope so the resume guard's slice-kind
#: map derives from the same list the sweep runs.
SUPPLEMENTAL = [
    (
        "win_ewma__float_slice",
        "win_ewma",
        "ev2pct",
        "user-sliced 100x events (whole user histories, ~2% of rows): "
        "full value hash INCLUDING the float ewma column the main "
        "sweep's digest tier skips",
    ),
]

#: per-event-output keys (output > ROW_CAP → digest tier) and the id
#: column their ``__slice`` companion's LCG gate hashes
SLICE_GATES = {
    "stream_dedup": "event_id",
    "stream_dedup_watermark": "event_id",
    "stream_recovery": "event_id",
    "stream_session_drain": "user_id",
}


def build_slice_dirs(super_dir: str) -> tuple[dict[str, str], dict[str, float]]:
    """Materialize the bounded-slice datasets next to the data
    (idempotent — reuses existing slices).  Non-sliced tables symlink
    the FULL versions: keys like dedup_embed_cosine join
    embeddings→documents, and only the quadratic side needs bounding.

    Returns ``(dirs, slice_mtimes)``: the per-kind slice dir and the
    mtime of each kind's sliced parquet after any rebuild, so the
    resume guard can drop greens computed from a superseded slice.

    * emb8k  — first 8192 embeddings by vec_id, spanning 4+ replicas;
    * docs20k — first 20k documents by doc_id;
    * ev2pct — whole per-user event histories (user_id % 50 = 0, ~2%
               of rows) for the supplemental win_ewma float check.
    """
    import duckdb

    specs = {
        # ORDER BY + LIMIT, not a WHERE bound: the replicator offsets
        # vec_id by 10M per replica, so `vec_id < 8192` would match
        # only replica 0's vectors
        "emb8k": (
            "embeddings",
            f"SELECT * FROM read_parquet('{super_dir}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 8192",
        ),
        "docs20k": (
            "documents",
            f"SELECT * FROM read_parquet('{super_dir}/documents.parquet') "
            "ORDER BY doc_id LIMIT 20000",
        ),
        "ev2pct": (
            "events",
            f"SELECT * FROM read_parquet('{super_dir}/events.parquet') "
            "WHERE user_id % 50 = 0 ORDER BY event_id",
        ),
    }
    dirs: dict[str, str] = {}
    slice_mtimes: dict[str, float] = {}
    for kind, (sliced_table, sql) in specs.items():
        d = f"{super_dir.rstrip('/')}_{kind}"
        os.makedirs(d, exist_ok=True)
        pq = os.path.join(d, f"{sliced_table}.parquet")
        src = os.path.join(super_dir, f"{sliced_table}.parquet")
        # Rebuild when the source is newer than the slice (a slice
        # surviving a dataset regeneration would mix generations) or
        # when the spec SQL changed: its hash is recorded next to the
        # slice, written only after a successful COPY.
        spec_file = os.path.join(d, f"_SLICE_SPEC_{sliced_table}")
        spec_hash = hashlib.sha256(sql.encode()).hexdigest()
        try:
            spec_stale = open(spec_file).read().strip() != spec_hash
        except (OSError, UnicodeDecodeError):
            # a torn or unreadable spec degrades to stale (rebuild)
            spec_stale = True
        stale = os.path.exists(pq) and (
            spec_stale
            or (
                os.path.exists(src)
                and os.path.getmtime(src) > os.path.getmtime(pq)
            )
        )
        if stale:
            os.remove(pq)
        if not os.path.exists(pq):
            con = duckdb.connect()
            con.execute(f"COPY ({sql}) TO '{pq}' (FORMAT PARQUET)")
            con.close()
            with open(spec_file, "w") as f:
                f.write(spec_hash + "\n")
        for t in TABLE_NAMES:
            if t == sliced_table:
                continue
            srcp = os.path.join(super_dir, f"{t}.parquet")
            link = os.path.join(d, f"{t}.parquet")
            if os.path.exists(srcp):
                if os.path.lexists(link):
                    os.remove(link)
                os.symlink(srcp, link)
        dirs[kind] = d
        slice_mtimes[kind] = os.path.getmtime(pq)
    return dirs, slice_mtimes


def load_prior(out_json: str, super_dir: str, slice_mtimes: dict) -> dict:
    """Green results of an earlier (killed or crashed) run of the same
    sweep, to be carried over; FAIL/ERROR/missing keys rerun.

    Nothing carries when any source parquet is newer than the results
    file (the dataset was regenerated).  A slice-backed green drops
    when its slice parquet is newer than the results file (rebuilt
    since, which the source check cannot see for a spec-only edit).
    A digest parent and its ``__slice`` companion carry together or
    not at all: an ``excluded`` companion carries with its parent, and
    any other non-green companion drops both, so the rerun regenerates
    the pair."""
    if not os.path.exists(out_json):
        return {}
    out_mtime = os.path.getmtime(out_json)
    src_mtimes = [
        os.path.getmtime(p)
        for t in TABLE_NAMES
        for p in [os.path.join(super_dir, f"{t}.parquet")]
        if os.path.exists(p)
    ]
    if src_mtimes and out_mtime < max(src_mtimes):
        print("resume: results file predates the dataset — discarding "
              "prior results (regenerated data)", file=sys.stderr)
        return {}
    slice_kind_of = {k: kind for k, (kind, _note) in BOUNDED_SLICE.items()}
    slice_kind_of.update({rk: kind for rk, _key, kind, _note in SUPPLEMENTAL})
    try:
        with open(out_json) as f:
            prior = json.load(f).get("results", {})
        green = {k: v for k, v in prior.items() if v.get("status") in GREEN}
        results = {
            k: v for k, v in green.items()
            if slice_mtimes.get(slice_kind_of.get(k), 0) <= out_mtime
        }
        for key in SLICE_GATES:
            if results.get(key, {}).get("status") != "digest_pass":
                continue
            comp = prior.get(key + "__slice") or {}
            if comp.get("status") == "excluded":
                results[key + "__slice"] = comp
            elif comp.get("status") != "slice_pass":
                results.pop(key + "__slice", None)
                del results[key]
    except (OSError, ValueError, AttributeError, TypeError):
        # a torn artifact (or valid JSON of the wrong shape) degrades
        # to a fresh sweep, never a crashed resume
        return {}
    dropped = sum(1 for k in green if k not in results)
    print(f"resume: {len(results)} green keys carried over"
          + (f", {dropped} dropped (slice rebuilt since, or an unpaired "
             "digest companion)" if dropped else ""), file=sys.stderr)
    return results


def _failure(exc: Exception, tier: str) -> dict:
    if isinstance(exc, AssertionError):
        return {"status": tier + "FAIL", "detail": str(exc)[:400]}
    return {"status": "ERROR", "detail": f"{type(exc).__name__}: {str(exc)[:300]}"}


def main() -> None:
    super_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/superscale_100x"
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        _REPO, "PARITY100_r19.json"
    )
    import duckdb

    spark = get_spark("parity-super100")
    spark.sparkContext.setLogLevel("ERROR")
    slice_dirs, slice_mtimes = build_slice_dirs(super_dir)

    def duck_con(data_dir: str) -> "duckdb.DuckDBPyConnection":
        c = duckdb.connect()
        for t in TABLE_NAMES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = duck_con(super_dir)
    results = load_prior(out_json, super_dir, slice_mtimes)

    def flush(complete: bool = False) -> dict:
        # written after EVERY key, so a killed sweep keeps its
        # evidence; the final write is flush(complete=True), one
        # payload for both shapes
        counts: dict[str, int] = {}
        for r in results.values():
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        with open(out_json, "w") as f:
            f.write(json.dumps({
                "metric": "registry-wide DuckDB value-parity sweep at 100x sf0.1",
                "round": 19,
                "sf": "sf0.1 x100",
                "row_cap": ROW_CAP,
                "complete": complete,
                "counts": counts,
                "results": results,
            }, indent=1) + "\n")
        return counts

    # Proactive JVM recycling: one long session accumulates cached
    # frames, checkpointed blocks and streaming state-store provider
    # maps; ~220 keys (or a few 10M-row drains) in, the next hash
    # build OOMs the heap.  A fresh JVM every RECYCLE_EVERY keys costs
    # ~15 s and keeps each key's memory baseline flat.  The heaviest
    # drains each get a fresh JVM of their own: three back-to-back
    # OOM'd one at 100×.
    RECYCLE_EVERY = 40
    HEAVY_FRESH = {
        "stream_session_drain", "stream_dedup", "stream_dedup_watermark",
        "stream_stateful", "stream_recovery", "stream_join_stream",
        "stream_python_datasource", "stream_python_sink",
    }
    keys_since_recycle = 0

    def ensure_alive(key: str) -> None:
        nonlocal spark, keys_since_recycle
        if key in HEAVY_FRESH and keys_since_recycle > 0:
            reason = f"fresh JVM for heavy streaming key {key}"
        elif keys_since_recycle >= RECYCLE_EVERY:
            reason = f"recycling JVM after {keys_since_recycle} keys"
        else:
            try:
                spark.range(1).count()
                return
            except Exception:
                # a prior key killed the JVM: rebuild so one bad key
                # cannot void the rest of the sweep
                reason = "SparkContext dead — rebuilding session"
        print(reason, file=sys.stderr)
        spark = recycle_session("parity-super100-fresh", also_stop=(spark,))
        spark.sparkContext.setLogLevel("ERROR")
        keys_since_recycle = 0

    def log(result_key: str) -> None:
        r = results[result_key]
        print(f"{result_key}: {r['status']} ({r.get('rows', '?')} rows, "
              f"{r.get('sec')} s)", file=sys.stderr)

    def gated_slice(key: str, df, n: int) -> None:
        """The ``__slice`` companion of a digest-tier per-event key."""
        # the expected slice is at most ROW_CAP / 2, so the gate's
        # spread around it rarely pushes a slice over the cap
        mod = max(16, 2 * n // ROW_CAP)
        gate = f"{LCG_SQL.format(col=SLICE_GATES[key])} % {mod} = 3"
        skey, t0 = key + "__slice", time.perf_counter()
        try:
            sdf = df.filter(gate)
            n2 = sdf.count()
            if n2 > ROW_CAP:
                rec = {"status": "excluded", "reason": f"slice still {n2} rows > cap"}
            else:
                assert_parity(
                    sdf, con, f"SELECT * FROM ({ORACLES[key]}) WHERE {gate}", skey
                )
                rec = {"status": "slice_pass", "rows": n2,
                       "slice": f"LCG-gated 1/{mod} of the output, full value hash"}
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            rec = _failure(exc, "slice_")
        results[skey] = {**rec, "sec": round(time.perf_counter() - t0, 1)}
        log(skey)

    def check(result_key: str, key: str, kind: str | None = None, note: str = "") -> None:
        """Run ``key`` on the full data, or on slice ``kind``, compare
        it through its tier, record the outcome and flush."""
        nonlocal keys_since_recycle
        ensure_alive(key)
        keys_since_recycle += 1
        kcon = duck_con(slice_dirs[kind]) if kind else con
        tier, t0, df, n = ("slice_" if kind else ""), time.perf_counter(), None, 0
        try:
            df = QUERIES[key](spark, slice_dirs[kind] if kind else super_dir)
            n = df.count()
            rec = {"rows": n}
            if n > ROW_CAP and not kind:
                tier = "digest_"
                rec["digest_terms"] = assert_digest_parity(df, kcon, ORACLES[key], key)
            else:
                assert_parity(df, kcon, ORACLES[key], key)
            rec = {"status": tier + "pass", **rec}
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            rec = _failure(exc, tier)
        finally:
            if kind:
                kcon.close()
        results[result_key] = {
            **rec, **({"slice": note} if note else {}),
            "sec": round(time.perf_counter() - t0, 1),
        }
        log(result_key)
        if rec["status"] == "digest_pass" and key in SLICE_GATES:
            gated_slice(key, df, n)
        flush()

    for key in QUERIES:
        if key in results:
            continue
        if key not in ORACLES:
            results[key] = {"status": "excluded", "reason": "no oracle"}
            continue
        kind, note = BOUNDED_SLICE.get(key, (None, ""))
        check(key, key, kind, note)
    for result_key, key, kind, note in SUPPLEMENTAL:
        if result_key not in results:
            check(result_key, key, kind, note)

    counts = flush(complete=True)
    print(json.dumps({"written": out_json, "counts": counts}))


if __name__ == "__main__":
    main()
