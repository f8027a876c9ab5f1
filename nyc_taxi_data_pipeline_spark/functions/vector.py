"""Vector (embedding) expression recipes.

Embeddings live as array<float> columns; all math here is JVM-side
higher-order functions (zip_with / aggregate) — no Python in the hot path,
so similarity scans scale linearly with executors. (Extension surface;
exercised on the driver's `embeddings` table.)

Two lanes: `dot`/`norm`/`cosine`/`l2_distance` accumulate in double;
`int_dot`/`int_l2sq` fold bigint lanes (int8-quantized or micro-unit
vectors) exactly, so every sum — and every ranking or argmin over it —
is the same in any engine and any summation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ accumulated in double."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity in double precision; 0.0 when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(d / (na * nb))


def l2_distance(a: str | Column, b: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                _c(a), _c(b),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _int_fold(a: str | Column, b: str | Column, f) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), f), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def int_dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ over bigint lanes, exact."""
    return _int_fold(a, b, lambda x, y: x * y)


def int_l2sq(a: str | Column, b: str | Column) -> Column:
    """Σ (aᵢ − bᵢ)² over bigint lanes: the exact squared L2 distance."""
    return _int_fold(a, b, lambda x, y: (x - y) * (x - y))
