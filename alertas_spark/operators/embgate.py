"""Embedding-validity gate shared by every vector operator.

A similarity/clustering operator has no defined answer for a vector with no
direction: NULL, empty, non-finite-containing (NaN/±Inf), and all-zero
embeddings make cosine/argmin either undefined (0/0) or engine-divergent
(NaN ordering differs between numpy, Spark, and DuckDB).  Rather than
patching NaN policy into each operator's math, the engine pins ONE contract
at the load boundary: **a vector participates iff its squared L2 norm is
finite and strictly positive** (which simultaneously rejects NaN/Inf
elements, all-zero vectors, and element magnitudes whose squares overflow).

The gate is a JVM expression over the same ``vectors.norm2`` fold the
operators already use for norms — no Python, no extra pass — and
:data:`EMB_VALID_SQL` is its DuckDB mirror for the oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alertas_spark.operators.vectors import norm2


def valid_vec(col: Column) -> Column:
    """TRUE iff ``col`` is a usable direction vector (see module docstring).
    The empty array folds to 0.0 and is rejected by ``> 0``."""
    n2 = norm2(col.cast("array<double>"))
    return (col.isNotNull() & ~F.isnan(n2) & (n2 != float("inf"))
            & (n2 > 0))


def valid_embeddings(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Filter ``df`` to rows whose vector passes the gate.

    Costs one interpreted HOF fold per row — fine for training/stats passes.
    On hot scan paths prefer :func:`valid_nrm` over a norm column the plan
    already computes, or :func:`np_valid_mask` inside an existing numpy
    stage: same contract, zero extra passes."""
    return df.filter(valid_vec(F.col(col)))


def valid_nrm(nrm: Column) -> Column:
    """The gate expressed over an ALREADY-computed L2 norm (or norm²) column —
    sqrt preserves NaN/Inf/0, so ``isfinite(nrm) AND nrm > 0`` is exactly
    :func:`valid_vec` without a second fold.  NULL vectors yield NULL norms
    and fail the ``> 0`` filter."""
    return ~F.isnan(nrm) & (nrm != float("inf")) & (nrm > 0)


def np_valid_mask(mat):
    """Row mask of the same gate for numpy stages (float64 matrix in)."""
    import numpy as np

    n2 = (mat * mat).sum(axis=1)
    return np.isfinite(n2) & (n2 > 0)


#: DuckDB mirror of :func:`valid_vec` (CASE keeps list_reduce off empty lists,
#: which DuckDB rejects; Spark's fold returns the 0.0 init there instead).
EMB_VALID_SQL = (
    "(CASE WHEN embedding IS NULL OR len(embedding) = 0 THEN FALSE "
    "ELSE isfinite(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> x * x), (x, y) -> x + y)) "
    "AND list_reduce(list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> x * x), (x, y) -> x + y) > 0 END)"
)
