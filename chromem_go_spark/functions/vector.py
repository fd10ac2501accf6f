"""Vector math as Catalyst column expressions.

Re-expresses the reference's vector kernel (reference vector.go:10-62:
``dotProduct``, ``normalizeVector``, ``isNormalized`` with tolerance 1e-6)
as JVM-side higher-order array functions, so similarity scoring stays
inside whole-stage codegen — no Python in the hot path.

All math is done in DOUBLE even when the stored column is
``array<float>``: the reference accumulates in float32 (vector.go:20-25),
but a distributed engine summing millions of products wants f64 for
stable, order-insensitive results (and it matches the DuckDB oracle).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Same tolerance as the reference (vector.go:8).
IS_NORMALIZED_TOLERANCE = 1e-6


def _as_double(v: Column | str) -> Column:
    col = F.col(v) if isinstance(v, str) else v
    return col.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns, accumulated in double.

    Equals cosine similarity when both inputs are L2-normalized
    (reference vector.go:10-13). Stays fully JVM-side
    (zip_with + aggregate -> whole-stage codegen).
    """
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column | str) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(dot(v, v))


def hoisted_norm(v: Column | str) -> Column:
    """:func:`norm` as a NON-NULLABLE column (null -> 0.0), for norms
    hoisted into a per-row column ahead of a join.

    A nullable norm column referenced by a join condition or post-join
    cosine filter makes InferFiltersFromConstraints clone the whole O(d)
    aggregate into an ``isnotnull(sqrt(aggregate(...)))`` scan filter —
    one extra norm eval per row just to test nullness. ``coalesce(norm,
    0.0)`` is non-nullable, so no isnotnull constraint is generated and
    the clone disappears. Pair results are identical: a null norm means
    a null vector (or null element), whose dot with any partner is null,
    so every cosine comparison already drops the row; non-null rows see
    the same doubles (coalesce only rewrites the null case)."""
    return F.coalesce(norm(v), F.lit(0.0))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns (no normalization assumed)."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine via PRECOMPUTED per-row L2 norms: ``dot(a,b) / (na*nb)``.

    Bit-identical to :func:`cosine_similarity` when ``na``/``nb`` carry
    ``norm(a)``/``norm(b)`` (same subexpressions, same operation order,
    same doubles) — the point is to hoist the two O(d) norm aggregates
    out of an O(pairs) join, where :func:`cosine_similarity` would
    recompute each row's norm once per PARTNER (r14, guide §2.3:
    compute per-row facts once per row, not once per pair)."""
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return dot(a, b) / (na * nb)


def normalize(v: Column | str) -> Column:
    """v / ||v||2 as an array<double> column (reference vector.go:28-41)."""
    n = norm(v)
    return F.transform(_as_double(v), lambda x: x / n)


def is_normalized(v: Column | str) -> Column:
    """|‖v‖ - 1| < 1e-6 (reference vector.go:55-62)."""
    return F.abs(norm(v) - F.lit(1.0)) < F.lit(IS_NORMALIZED_TOLERANCE)


def normalize_if_needed(v: Column | str) -> Column:
    """Enforce the normalize-at-insert invariant (reference
    collection.go:266-276): pass through already-normalized vectors,
    normalize the rest. The invariant makes query-time cosine degenerate
    to a plain dot product."""
    return F.when(is_normalized(v), _as_double(v)).otherwise(normalize(v))


def _sql_double(x) -> str:
    """One double as SQL text that parses back to the same bits: the
    shortest round-trip ``repr`` with a ``D`` suffix; NaN and ±inf
    have no SQL literal and go through ``CAST``."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def double_array_lit(values) -> Column:
    """An ``array<double>`` literal built as SQL text and parsed once.

    ``F.lit(list)`` and ``F.array(*[F.lit(x) ...])`` cost one py4j
    round trip per element (20k+ for a 4,096-entry vector, seconds of
    client time before any Spark work); one ``F.expr`` costs a few."""
    body = ", ".join(_sql_double(x) for x in values)
    lit = F.expr(f"array({body})")
    return lit if body else lit.cast("array<double>")


def query_vector_lit(vec) -> Column:
    """A query vector as an array<double> literal column.

    Fine for moderate dimensionality; for batch kNN prefer a broadcast
    queries DataFrame (operators.knn) over per-query literals.
    """
    return double_array_lit(vec).cast("array<double>")


def normalize_vec(vec) -> list[float]:
    """Driver-side scalar normalization for a single query vector
    (reference collection.go:530-532 normalizes the query at query time)."""
    import math

    n = math.sqrt(sum(float(x) * float(x) for x in vec))
    if n == 0:
        return [float(x) for x in vec]
    return [float(x) / n for x in vec]


def subtract_vec(a, b) -> list[float]:
    """a - b element-wise, driver-side (reference vector.go:44-52, used by
    negative-query subtract mode collection.go:457-464)."""
    if len(a) != len(b):
        raise ValueError("vectors must have the same length")
    return [float(x) - float(y) for x, y in zip(a, b)]
