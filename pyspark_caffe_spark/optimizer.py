"""Logical-plan rewrite rules — the engine-grade optimizer layer.

``rewrite_similarity_join`` pattern-matches the NAIVE all-pairs
cosine-threshold spelling a user writes without knowing the library::

    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    dot = F.aggregate(F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    naive = (a.crossJoin(b)
              .filter((F.round(dot, 6) >= tau) & (F.col("id_a") < F.col("id_b")))
              .select("id_a", "id_b", F.round(dot, 6).alias("cos")))

and rebuilds it as :func:`pyspark_caffe_spark.vecops.threshold_pairs`'
EXACT tiered plan (bounded broadcast-matrix tier under the row cap,
exact distributed block-pair tier above it — never the LSH tier,
whose approximate recall would change results) — so the user who does
NOT call the router still escapes the BroadcastNestedLoopJoin that
Catalyst would otherwise execute (measured 20.5 s at a mere 2k×2k,
BASELINE.md).

Why a Python-side rule and not a SparkSessionExtensions injection:
Catalyst rules must be JVM classes and this container has no Scala
toolchain to compile one, so the rule operates one level up — on the
ANALYZED logical plan reached through the DataFrame, using the same
machinery a JVM rule would (structural match on
Project/Filter/Join nodes, ``Expression.semanticEquals`` against a
canonical cosine template, ``LogicalPlan.sameResult`` to prove the
self-join). The match is CONSERVATIVE by construction: any deviation
from the proven pattern returns ``None`` and the naive plan runs
unchanged — the rule can decline, never miscompile.

Matched shape (all checks required):

    Project(outs, Filter(cond, Join(Project(C) as L, Project(C') as R)))

* join type Cross (or Inner with no condition) — the naive spelling;
* **self-join form** — ``L.child.sameResult(R.child)`` proves the SAME
  corpus scan on both sides; ``cond`` is exactly two conjuncts:
  ``round(dot(va, vb), d) >= lit`` where the left side semantically
  equals the canonical zip_with/aggregate cosine template over one
  array column from each side, and an ``id_l < id_r`` ordering
  conjunct between one long column from each side (either ``<``
  spelling); routed to ``vecops.threshold_pairs`` (i<j pairs);
* **bipartite form** (round-7 verdict #3) — the two scans are
  DIFFERENT corpora (query set × corpus, the serving shape);
  ``cond`` is exactly ONE conjunct, the rounded-cosine threshold —
  there is no i<j dedup across distinct corpora, so an ordering
  conjunct means the query is NOT the plain serving shape and the
  rule declines; routed to ``vecops.bipartite_threshold_pairs``
  (every qualifying cross pair once, right side broadcast under the
  cap, grid tier above it);
* every output in ``outs`` is one of: one column of the left side,
  one column of the right side (exactly one distinct attribute per
  side — carried through the routed plan and cast back to its
  original type), or an alias of the SAME rounded-cosine expression;
* each id/vector output resolves through its Project to a plain base
  column; in the self-join form both sides must resolve to the SAME
  base (id, vec) names.

The rewrite preserves the result contract exactly: both routes emit
pairs with the ROUNDED cosine at the same ``d`` digits compared
against the same ``tau`` — the rounding requirement is why a raw
(unrounded) dot comparison is declined rather than rewritten.

Version guard: the rule reaches JVM internals PySpark does not pledge
stable (``_jdf.queryExecution()``, ``classic.Dataset.ofRows`` —
pinned to PySpark 4.x classic; no Scala toolchain here for a real
SparkSessionExtensions rule).  Every entry point therefore degrades
to DECLINE (``None`` / pass-through) on AttributeError / ImportError /
TypeError / Py4JError, so a Spark upgrade that moves an internal
makes the naive plan run unchanged instead of raising mid-query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_caffe_spark import vecops

try:  # pragma: no cover - py4j ships with pyspark
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    class Py4JError(Exception):
        """Fallback when py4j is absent (Spark Connect-only install)."""


#: Exceptions that mean "a JVM internal this rule reaches moved" — the
#: rule declines instead of surfacing them (the naive plan still runs).
_INTERNAL_API_ERRORS = (AttributeError, ImportError, TypeError, Py4JError)


def _seq(jseq) -> list:
    """Materialize a Scala Seq reached over py4j."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _cls(jobj) -> str:
    return jobj.getClass().getSimpleName()


def _conjuncts(expr) -> list:
    if _cls(expr) == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def _of_rows(spark, jplan) -> DataFrame:
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return _CDF(jdf, spark)


def _cosine_template(joined: DataFrame, va: str, vb: str, ndigits: int):
    """The analyzed JVM expression of our canonical rounded cosine over
    two array columns of ``joined`` — the template the user's filter
    expression must ``semanticEquals``."""
    ref = joined.select(F.round(vecops._dot(va, vb), ndigits).alias("_t"))
    return ref._jdf.queryExecution().analyzed().expressions().head().child()


#: id column types the routed tiers actually support: every tier
#: normalizes the pair identity to long (_pairs_broadcast declares
#: ``id_a long`` Arrow schemas, _bipartite_blocked does .cast("long")),
#: so only integral ids round-trip losslessly.  A string/date id would
#: fail at runtime instead of declining, and a fractional double id
#: would be silently truncated then cast back — wrong values.  The
#: rewrite is semantics-preserving ONLY on these types; anything else
#: declines and the naive plan runs unchanged.
_INTEGRAL_ID_TYPES = frozenset(("tinyint", "smallint", "int", "bigint"))


def _is_integral_id(attr) -> bool:
    return str(attr.dataType().simpleString()) in _INTEGRAL_ID_TYPES


def _alias_to_base(project, attr) -> str | None:
    """Resolve an output attribute of a Project node back to the base
    column NAME it projects (Alias-of-AttributeReference or a direct
    AttributeReference); None if it is any computed expression."""
    target = attr.exprId().id()
    for ne in _seq(project.projectList()):
        if ne.exprId().id() != target:
            continue
        kind = _cls(ne)
        if kind == "AttributeReference":
            return str(ne.name())
        if kind == "Alias" and _cls(ne.child()) == "AttributeReference":
            return str(ne.child().name())
        return None
    return None


def _try_rewrite_impl(df: DataFrame, **router_kwargs) -> DataFrame | None:
    spark = df.sparkSession
    root = df._jdf.queryExecution().analyzed()
    if _cls(root) != "Project":
        return None
    filt = root.child()
    if _cls(filt) != "Filter":
        return None
    join = filt.child()
    if _cls(join) != "Join":
        return None
    jtype = str(join.joinType().toString())
    if jtype not in ("Cross", "Inner") or join.condition().isDefined():
        return None
    jl, jr = join.left(), join.right()
    if _cls(jl) != "Project" or _cls(jr) != "Project":
        return None
    # SAME corpus scan on both sides → self-join form (router computes
    # i<j over ONE corpus); different scans → bipartite serving form.
    self_join = bool(jl.child().sameResult(jr.child()))

    left_out, right_out = _seq(jl.output()), _seq(jr.output())
    names = [str(o.name()) for o in left_out + right_out]
    if len(set(names)) != len(names):
        return None  # ambiguous column names: template building unsafe
    left_ids = {o.exprId().id(): o for o in left_out}
    right_ids = {o.exprId().id(): o for o in right_out}

    conj = _conjuncts(filt.condition())
    id_l = id_r = None
    if self_join:
        if len(conj) != 2:
            return None
        thresh = next((c for c in conj if _cls(c) == "GreaterThanOrEqual"), None)
        order = next((c for c in conj if _cls(c) in ("LessThan", "GreaterThan")), None)
        if thresh is None or order is None:
            return None

        # --- ordering conjunct: id_left < id_right (either spelling) ---
        o_l, o_r = order.left(), order.right()
        if _cls(order) == "GreaterThan":  # idR > idL  ≡  idL < idR
            o_l, o_r = o_r, o_l
        if _cls(o_l) != "AttributeReference" or _cls(o_r) != "AttributeReference":
            return None
        if o_l.exprId().id() not in left_ids or o_r.exprId().id() not in right_ids:
            return None
        if not (_is_integral_id(o_l) and _is_integral_id(o_r)):
            return None  # non-integral pair identity: tiers can't carry it
        id_l, id_r = o_l, o_r
    else:
        # bipartite: exactly ONE conjunct (the threshold) — an i<j
        # ordering across two distinct corpora is a different query,
        # decline rather than guess
        if len(conj) != 1 or _cls(conj[0]) != "GreaterThanOrEqual":
            return None
        thresh = conj[0]

    # --- threshold conjunct: Round(dot, d) >= Literal ---
    lit = thresh.right()
    if _cls(lit) != "Literal" or str(lit.dataType().simpleString()) != "double":
        return None
    tau = float(str(lit.value()))
    cos_expr = thresh.left()
    if _cls(cos_expr) != "Round":
        return None  # unrounded compare: router rounds — semantics differ, decline
    scale = cos_expr.scale()
    if _cls(scale) != "Literal":
        return None
    ndigits = int(str(scale.value()))

    joined = _of_rows(spark, join)
    arr_left = [
        str(o.name())
        for o in left_out
        if str(o.dataType().simpleString()).startswith("array<")
    ]
    arr_right = [
        str(o.name())
        for o in right_out
        if str(o.dataType().simpleString()).startswith("array<")
    ]
    match = None
    for va in arr_left:
        for vb in arr_right:
            if cos_expr.semanticEquals(_cosine_template(joined, va, vb, ndigits)):
                match = (va, vb)
                break
        if match:
            break
    if match is None:
        return None
    va_name, vb_name = match

    # --- output projection: only ids and the rounded cosine.  In the
    # self-join form the ids are pinned by the ordering conjunct; in
    # the bipartite form they are DISCOVERED here — exactly one
    # distinct attribute per side may appear (the pair identity the
    # routed plan carries through), anything else declines. ---
    out_map: list[tuple[str, str, str]] = []  # (routed col, out name, cast type)

    def classify(attr) -> str | None:
        nonlocal id_l, id_r
        # pair identity must be an INTEGRAL scalar column — the routed
        # tiers normalize ids to long (see _INTEGRAL_ID_TYPES), so a
        # string/date/double id (and any nested type) declines rather
        # than erroring or truncating at runtime
        if not _is_integral_id(attr):
            return None
        eid = attr.exprId().id()
        if eid in left_ids:
            if id_l is None:
                id_l = left_ids[eid]
            return "id_a" if eid == id_l.exprId().id() else None
        if eid in right_ids:
            if id_r is None:
                id_r = right_ids[eid]
            return "id_b" if eid == id_r.exprId().id() else None
        return None

    for ne in _seq(root.projectList()):
        kind = _cls(ne)
        name = str(ne.name())
        if kind == "AttributeReference":
            side = classify(ne)
            if side is None:
                return None
            out_map.append((side, name, str(ne.dataType().simpleString())))
        elif kind == "Alias":
            child = ne.child()
            if _cls(child) == "AttributeReference":
                side = classify(child)
                if side is None:
                    return None
                out_map.append((side, name, str(child.dataType().simpleString())))
            elif child.semanticEquals(cos_expr):
                out_map.append(("cos", name, "double"))
            else:
                return None
        else:
            return None
    if id_l is None or id_r is None:
        return None  # pair identity not projected: not the serving shape

    # --- each id/vec output must resolve to a plain base column; the
    # self-join form additionally requires the SAME base names on both
    # sides (it is one corpus) ---
    va_attr = next(o for o in left_out if str(o.name()) == va_name)
    vb_attr = next(o for o in right_out if str(o.name()) == vb_name)
    base_id_l = _alias_to_base(jl, id_l)
    base_id_r = _alias_to_base(jr, id_r)
    base_vec_l = _alias_to_base(jl, va_attr)
    base_vec_r = _alias_to_base(jr, vb_attr)
    if None in (base_id_l, base_id_r, base_vec_l, base_vec_r):
        return None
    if self_join and (base_id_l != base_id_r or base_vec_l != base_vec_r):
        return None

    # A rewrite rule must be SEMANTICS-PRESERVING at every scale, so it
    # routes to the EXACT tiers (bounded broadcast tier → distributed
    # block/grid tier over the cap), NEVER to the LSH tier:
    # auto_threshold_pairs' banded route has approximate recall, which
    # is a fine opt-IN router trade-off but would make this rewrite
    # silently drop qualifying pairs exactly at the scale it targets.
    if self_join:
        base = _of_rows(spark, jl.child()).select(base_id_l, base_vec_l)
        routed = vecops.threshold_pairs(
            base, tau=tau, vec_col=base_vec_l, id_col=base_id_l,
            ndigits=ndigits, **router_kwargs,
        )
    else:
        base_l = _of_rows(spark, jl.child()).select(base_id_l, base_vec_l)
        base_r = _of_rows(spark, jr.child()).select(base_id_r, base_vec_r)
        routed = vecops.bipartite_threshold_pairs(
            base_l, base_r, tau,
            vec_col_a=base_vec_l, id_col_a=base_id_l,
            vec_col_b=base_vec_r, id_col_b=base_id_r,
            ndigits=ndigits, **router_kwargs,
        )
    # cast ids back to their ORIGINAL attribute types: the routed tiers
    # normalize ids to long, but a rewrite must not change the schema
    # (an int32 id column stays int32)
    cols: list[Column] = [
        F.col(src).cast(typ).alias(dst) for src, dst, typ in out_map
    ]
    return routed.select(*cols)


def try_rewrite_similarity_join(df: DataFrame, **router_kwargs) -> DataFrame | None:
    """Return the routed equivalent of a naive cosine-threshold join
    (self-join OR bipartite form), or ``None`` when the plan does not
    provably match (the caller then runs the original plan).

    Degrades to ``None`` when a JVM internal this rule reaches has
    moved (AttributeError / ImportError / TypeError / Py4JError) — a
    Spark upgrade must make the rule decline, never raise mid-query."""
    try:
        return _try_rewrite_impl(df, **router_kwargs)
    except _INTERNAL_API_ERRORS:
        return None


def rewrite_similarity_join(df: DataFrame, **router_kwargs) -> DataFrame:
    """``try_rewrite_similarity_join`` with pass-through: the input plan
    is returned unchanged when the pattern does not match."""
    out = try_rewrite_similarity_join(df, **router_kwargs)
    return df if out is None else out
