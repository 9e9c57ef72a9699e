"""Cross-engine result comparison — the pre-flight copy of the driver's
oracle check (SURVEY.md §5.1).

Normalization before hashing/comparison:
  * columns sorted by name (the driver does the same);
  * floats compared EXACTLY (strict mode, the default) — the driver's
    value hash does not round, so any summation-order drift must be
    fixed in the query (decimal arithmetic / ULP-safe rounding), never
    masked here.  Set SPARK_GRAFT_LOOSE_PARITY=1 to fall back to
    9-significant-digit rounding while debugging a drift source;
  * timestamps truncated to microseconds, naive;
  * arrays compared element-wise with the same rules;
  * row multisets compared order-insensitively.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import numpy as np

STRICT_FLOATS = os.environ.get("SPARK_GRAFT_LOOSE_PARITY", "") != "1"


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            return 0.0
        return f if STRICT_FLOATS else float(f"{f:.9g}")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm_value(x) for x in v)
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        d = v.asDict()
        return tuple((k, norm_value(d[k])) for k in sorted(d))
    if isinstance(v, dict):
        return tuple((k, norm_value(v[k])) for k in sorted(v))
    return v


def normalize_result(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def spark_result(df) -> tuple[list[str], list[tuple]]:
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    return cols, rows


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return cols, rows


# DuckDB logical type -> Spark simpleString types the driver should
# treat as schema-equal (the driver compares schemas; int-width or
# date/timestamp drift is a real failure mode the value-hash normalizer
# would otherwise mask).
_TYPE_COMPAT = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "VARCHAR": {"string"},
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "DATE": {"date"},
    "BOOLEAN": {"boolean"},
    "DOUBLE[]": {"array<double>"},
    "BIGINT[]": {"array<bigint>"},
    "VARCHAR[]": {"array<string>"},
}


def assert_type_parity(df, con, sql: str, key: str = "?"):
    stypes = dict(df.dtypes)
    rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
    for c, dt in zip(rel.columns, [str(t) for t in rel.types]):
        ok = stypes.get(c) in _TYPE_COMPAT.get(dt, set())
        assert ok, f"[{key}] dtype mismatch on {c}: spark={stypes.get(c)} duck={dt}"


def assert_parity(df, con, sql: str, key: str = "?"):
    s_cols, s_rows = spark_result(df)
    d_cols, d_rows = duck_result(con, sql)
    assert sorted(s_cols) == sorted(d_cols), (
        f"[{key}] column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert_type_parity(df, con, sql, key)
    assert len(s_rows) == len(d_rows), (
        f"[{key}] row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )
    sn = normalize_result(s_cols, s_rows)
    dn = normalize_result(d_cols, d_rows)
    if sn != dn:
        dset, sset = set(dn), set(sn)
        diff_s = [r for r in sn if r not in dset][:5]
        diff_d = [r for r in dn if r not in sset][:5]
        raise AssertionError(
            f"[{key}] value mismatch ({len(sn)} rows)\n"
            f"  spark-only (≤5): {diff_s}\n  duck-only (≤5): {diff_d}"
        )


def digest_exprs(schema) -> tuple[list[str], list[str]]:
    """Order-insensitive exact digest expressions (Spark, DuckDB) for a
    result schema: the row count plus, per column, the non-null count
    and, where an exact cross-engine sum exists, a DECIMAL(38,0) sum of
    the value, its fractional units, its length, its epoch micros or
    its epoch days.  Integer decimal sums are exact in both engines, so
    a mismatch is always a real divergence; float columns contribute
    only their null layout."""
    s_exprs, d_exprs = ["COUNT(*)"], ["COUNT(*)"]
    for f in schema.fields:
        c, t = f.name, f.dataType.simpleString()
        s_exprs.append(f"COUNT(`{c}`)")
        d_exprs.append(f'COUNT("{c}")')
        if t in ("tinyint", "smallint", "int", "bigint"):
            s, d = f"`{c}`", f'"{c}"'
        elif t.startswith("decimal"):
            # scaled to integer units so the fractional digits count
            mult = 10 ** f.dataType.scale
            s, d = f"`{c}` * {mult}", f'"{c}" * {mult}'
        elif t == "boolean":
            s, d = f"CAST(`{c}` AS INT)", f'CAST("{c}" AS INT)'
        elif t == "string":
            s, d = f"LENGTH(`{c}`)", f'LENGTH("{c}")'
        elif t.startswith("timestamp"):
            # NTZ → TIMESTAMP is the identity in a UTC session, and
            # UNIX_MICROS takes only the LTZ type
            s, d = f"UNIX_MICROS(CAST(`{c}` AS TIMESTAMP))", f'EPOCH_US("{c}")'
        elif t == "date":
            s = f"DATEDIFF(`{c}`, DATE '1970-01-01')"
            d = f"(\"{c}\" - DATE '1970-01-01')"
        else:
            continue
        s_exprs.append(f"SUM(CAST({s} AS DECIMAL(38,0)))")
        d_exprs.append(f"SUM(CAST({d} AS DECIMAL(38,0)))")
    return s_exprs, d_exprs


def assert_digest_parity(df, con, sql: str, key: str = "?") -> int:
    """The tier for results too large to hash row by row: the same
    column-set and dtype checks as ``assert_parity``, then the
    ``digest_exprs`` digest of both sides.  Returns the number of
    digest terms compared."""
    rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
    assert sorted(df.columns) == sorted(rel.columns), (
        f"[{key}] column mismatch: spark={sorted(df.columns)} duck={sorted(rel.columns)}"
    )
    assert_type_parity(df, con, sql, key)
    s_exprs, d_exprs = digest_exprs(df.schema)
    s_digest = [None if v is None else int(v) for v in df.selectExpr(*s_exprs).first()]
    d_row = con.execute(f"SELECT {', '.join(d_exprs)} FROM ({sql})").fetchone()
    d_digest = [None if v is None else int(v) for v in d_row]
    assert s_digest == d_digest, (
        f"[{key}] digest mismatch: spark={s_digest} duck={d_digest}"
    )
    return len(s_digest)
