"""Vector math over embedding columns (array<float>) with exact cross-engine
parity: cast to double first (float->double is exact), then a sequential left
fold for the dot product so Spark's aggregate() and DuckDB's list_reduce()
produce bit-identical doubles.

North-star similarity-search ops (SURVEY.md §4 note, §7 phase 7):
brute-force cosine top-k is the baseline (operators/similarity.py); the
registry's banded-LSH, IVF and PQ rows are the 100 TB scale paths.
"""

from __future__ import annotations

from . import dialect as D

EMB_DIM = 64  # width of the corpus `embedding` column


def to_double_array(d: str, expr: str) -> str:
    if d == D.SPARK:
        return f"cast({expr} as array<double>)"
    return f"cast({expr} as double[])"


def dot(d: str, a: str, b: str, dim: int) -> str:
    """Dot product of two double arrays of known dim, expanded to a flat
    left-associated sum.

    Expanded (not a fold): Spark higher-order-function lambdas run in the
    interpreter (~10x slower than codegen); a flat `a[1]*b[1] + ... +
    a[n]*b[n]` stays inside whole-stage codegen. Left-associated addition
    gives bit-identical doubles to the sequential fold (((0+p1)+p2)+... =
    (p1+p2)+..., since 0.0+p1 == p1 exactly), so both engines hash-match.

    `a`/`b` are repeated `dim` times -- pass simple column refs, not nested
    expressions (use dot_literal() for a constant operand).
    """
    if d == D.SPARK:
        terms = [f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1)]
    else:
        terms = [f"({a})[{i}] * ({b})[{i}]" for i in range(1, dim + 1)]
    return f"({' + '.join(terms)})"


def dot_literal(d: str, a: str, weights: list[float]) -> str:
    """Dot product of an array column with a constant vector, expanded so the
    literals inline once per component (codegen-friendly, no per-row array
    construction). Same left-associated order as dot()."""
    if d == D.SPARK:
        terms = [f"element_at({a}, {i}) * {w!r}" for i, w in enumerate(weights, start=1)]
    else:
        terms = [f"({a})[{i}] * {w!r}" for i, w in enumerate(weights, start=1)]
    return f"({' + '.join(terms)})"


def norm(d: str, a: str, dim: int) -> str:
    return f"sqrt({dot(d, a, a, dim)})"


def l2sq(d: str, a: str, b: str, dim: int) -> str:
    """Squared L2 distance of two double arrays of known dim, expanded flat
    like dot() (same codegen + bit-parity rationale). Pass simple column
    refs -- `a`/`b` are repeated 2*dim times."""
    if d == D.SPARK:
        terms = [
            f"(element_at({a}, {i}) - element_at({b}, {i}))"
            f" * (element_at({a}, {i}) - element_at({b}, {i}))"
            for i in range(1, dim + 1)
        ]
    else:
        terms = [
            f"(({a})[{i}] - ({b})[{i}]) * (({a})[{i}] - ({b})[{i}])"
            for i in range(1, dim + 1)
        ]
    return f"({' + '.join(terms)})"


def cosine(d: str, a: str, b: str, dim: int) -> str:
    """cosine similarity; 0.0 for zero-norm vectors (ANSI-safe: no div by 0)."""
    na, nb = norm(d, a, dim), norm(d, b, dim)
    return (
        f"(case when {na} = 0.0 or {nb} = 0.0 then 0.0 "
        f"else {dot(d, a, b, dim)} / ({na} * {nb}) end)"
    )


def l2sq_literal(d: str, a: str, weights: list[float]) -> str:
    """Squared L2 distance of an array column against a CONSTANT vector,
    expanded flat with the literals inlined -- term-for-term the same
    left-associated chain as l2sq(), so a value computed here is
    bit-identical to l2sq() on a column holding the same doubles (Python
    repr round-trips doubles exactly). Used by the kcenter driver loop,
    where each round's centers are bounded 1-row collects."""
    if d == D.SPARK:
        terms = [
            f"(element_at({a}, {i}) - {w!r}) * (element_at({a}, {i}) - {w!r})"
            for i, w in enumerate(weights, start=1)
        ]
    else:
        terms = [
            f"(({a})[{i}] - {w!r}) * (({a})[{i}] - {w!r})"
            for i, w in enumerate(weights, start=1)
        ]
    return f"({' + '.join(terms)})"
