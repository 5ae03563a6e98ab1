"""Vector math over ``array<float>`` embedding columns, as pure Column
expressions (charter extension: similarity search / near-dup over the
driver's ``embeddings`` table).

Design for oracle parity: every reduction is an explicit *sequential
left fold* in element order (``F.aggregate`` over ``zip_with``), which
DuckDB mirrors with ``list_reduce(list_prepend(0.0, list_transform(...)))``
— identical IEEE-754 double operations in identical order, so results
match bit-for-bit.  Everything stays JVM-side (no UDF).

Round 13 (optimization; guide §1.2 "per-task work"): higher-order
functions are NOT whole-stage-codegen'd — ``F.aggregate`` evaluates an
interpreted lambda per element, which made the brute-force pair queries
(``dedup_embedding_cosine``: ~4M candidate pairs × 64 interpreted fold
steps) compute-bound on the INTERPRETER, not on the arithmetic.  When
the caller knows the (constant) vector dimension, ``dot``/``norm2``/
``cosine`` accept ``d`` and emit the SAME sequential left fold as an
unrolled expression tree — ``((0.0 + a[1]*b[1]) + a[2]*b[2]) + …`` —
plain codegen'd double arithmetic, identical IEEE-754 operations in
identical order, so values are bit-for-bit unchanged (pinned by
tests/test_vectors_fastpath.py).  A per-row size guard falls back to
the HOF fold for any row whose array length differs from ``d``, so the
fast path can never change a result, only speed it up.  Callers probe
``d`` once per frame with :func:`probe_dim` (a one-row job — O(1) at
any scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_double(col: Column) -> Column:
    """array<float> → array<double> (exact widening)."""
    return col.cast("array<double>")


# Unroll ceiling (advice r13): cosine(a,b,d) expands to ~6d element_at
# nodes plus the HOF fallback inside each when branch; past this d the
# generated method risks the JVM 64 KB codegen limit (Spark silently
# falls back to interpreted mode, negating the win) and the plan-
# analysis cost of the tree starts to dominate in pair joins.  Above
# the cap the HOF fold is used — values identical, just interpreted.
UNROLL_MAX_D = 128


def probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """The array length of ``vec_col``'s first row (None on an empty
    frame) — the O(1)-rows driver probe that unlocks the unrolled fold
    fast path.  Dimensions are constant per embedding table by
    construction; rows that nevertheless differ are handled row-level
    by the size guard in :func:`dot`/:func:`norm2`.

    One probe is one driver job (executeTake(1) — it may execute part
    of the upstream lineage).  Operators accept an optional ``d`` so a
    query composing several of them probes ONCE and threads the value
    through (verdict r13 #8: per-operator probes stacked several driver
    round-trips per query)."""
    row = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    return int(row["_d"]) if row is not None and row["_d"] is not None else None


def _dot_fold(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm2_fold(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def _unrolled(terms) -> Column:
    acc: Column = F.lit(0.0)
    for t in terms:
        acc = acc + t
    return acc


def dot(a: Column, b: Column, d: int | None = None) -> Column:
    """Sequential-fold dot product Σ a[i]*b[i] (double).  With ``d``:
    the k-step fold unrolled into codegen'd arithmetic for rows where
    both arrays have exactly ``d`` elements (identical values — same
    ops, same order), HOF-fold fallback otherwise.  ``d`` beyond
    :data:`UNROLL_MAX_D` uses the fold outright (codegen-limit guard)."""
    if d is None or d > UNROLL_MAX_D:
        return _dot_fold(a, b)
    unrolled = _unrolled(
        F.element_at(a, i) * F.element_at(b, i) for i in range(1, d + 1)
    )
    return F.when(
        (F.size(a) == d) & (F.size(b) == d), unrolled
    ).otherwise(_dot_fold(a, b))


def dot_literal(a: Column, b: list[float]) -> Column:
    """``dot`` against a DRIVER-SIDE literal vector (r14): the same
    sequential left fold Σ a[i]·b[i], with each b[i] emitted as a SCALAR
    double literal.  The generic ``dot(a, F.lit(b), d)`` path embeds a
    fresh CreateArray of all len(b) literals under EVERY element_at —
    ~6·d² expression nodes per call (measured: ann_mmr_rerank's k
    per-step penalty dots dominated the query's 13.9 s as pure
    plan-analysis + codegen cost).  This form is ~d nodes, and the
    values are bit-identical: same IEEE-754 multiplies and adds in the
    same order, ``element_at(lit(b), i)`` ≡ ``lit(b[i])``.  The per-row
    size guard falls back to the HOF fold exactly like :func:`dot`."""
    d = len(b)
    if d > UNROLL_MAX_D:
        return _dot_fold(a, F.lit(b))
    unrolled = _unrolled(
        F.element_at(a, i + 1) * F.lit(float(b[i])) for i in range(d)
    )
    return F.when(F.size(a) == d, unrolled).otherwise(_dot_fold(a, F.lit(b)))


def norm2(a: Column, d: int | None = None) -> Column:
    """Sequential-fold squared L2 norm (``d``: see :func:`dot`)."""
    if d is None or d > UNROLL_MAX_D:
        return _norm2_fold(a)
    unrolled = _unrolled(
        F.element_at(a, i) * F.element_at(a, i) for i in range(1, d + 1)
    )
    return F.when(F.size(a) == d, unrolled).otherwise(_norm2_fold(a))


def cosine(a: Column, b: Column, d: int | None = None) -> Column:
    """Cosine similarity in double precision (caller rounds for display)."""
    return dot(a, b, d) / (F.sqrt(norm2(a, d)) * F.sqrt(norm2(b, d)))
