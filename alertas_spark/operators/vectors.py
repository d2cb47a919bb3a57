"""Double vector folds — the one home of every Spark-side distance and argmin.

Every vector operator (brute-force and IVF search, k-means, PQ and IVFADC,
the CLIP gate, the embedding-validity gate) ranks by the expressions in this
module, and the DuckDB oracles check them bit-for-bit.  That only works under
one contract, stated here once:

* **fold order** — a reduction over a vector is a SEQUENTIAL LEFT FOLD
  starting from ``0.0``: ``((0.0 + t₁) + t₂) + … + tₙ``, one IEEE add per
  element, no pairwise regrouping and no FMA.  That is the order of
  Spark's ``aggregate`` and of DuckDB's ``list_reduce`` (which starts from
  ``t₁``; ``0.0 + t₁`` is the same double for every ``t₁`` but ``-0.0``),
  so both engines produce the same binary64.  :func:`seq_sqdist` is
  the numpy twin of the same fold for the vectorized scan stages.
* **tie-break** — the argmin over a codebook takes ``array_min`` over
  ``(dist, id)`` structs.  Structs compare field by field, so the winner is
  the lowest distance with ties to the LOWEST id: the oracle's
  ``ROW_NUMBER() OVER (… ORDER BY dist, id)`` and numpy's first-occurrence
  ``argmin`` over id-sorted codewords.
* **codebooks are literals** — centroids and codewords are driver-held rows
  (always pulled through ``artifacts.bounded_rows`` with a stated bound),
  baked by :func:`lit_centroid_array` / :func:`lit_codebook_by_m` into one
  constant-folded literal.  Consumers evaluate the argmin inside the scan
  projection: no pack aggregation, no BroadcastExchange, no join.
  :func:`dlit` renders each double so that Spark's parser rebuilds the exact
  binary64, and rejects the values a SQL literal cannot carry.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fold(terms: Column) -> Column:
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as the sequential left fold."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y))


def norm2(a: Column) -> Column:
    """Σ aᵢ² as the sequential left fold."""
    return _fold(F.transform(a, lambda x: x * x))


def sqdist(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² as the sequential left fold."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def argmin(vec: Column, codebook: Column, key: str,
           with_cvec: bool = False) -> Column:
    """The nearest codeword of ``vec`` as a ``(dist, <key>[, cvec])`` struct.

    ``codebook`` is an ``array<struct<<key>, cvec>>`` (a literal from
    :func:`lit_centroid_array` / :func:`lit_codebook_by_m`).  ``with_cvec``
    carries the winner's vector on the struct — a third field that is never
    consulted, because ids are unique — so residual consumers need no
    join-back.  The result is NULL only for an empty codebook."""
    def scored(c: Column) -> Column:
        fields = [sqdist(vec, c["cvec"]).alias("dist"), c[key].alias(key)]
        if with_cvec:
            fields.append(c["cvec"].alias("cvec"))
        return F.struct(*fields)

    return F.array_min(F.transform(codebook, scored))


def nearest(df: DataFrame, vec: str, codebook: Column, key: str,
            with_cvec: bool = False) -> DataFrame:
    """``df`` plus the :func:`argmin` of its ``vec`` column over
    ``codebook`` as columns ``<key>``, ``dist`` (and ``cvec``), evaluated
    inside the scan projection — zero exchange, no join."""
    # the key is coalesced against a sentinel that never occurs: the argmin
    # over a non-empty codebook is never null, so values are identical — but
    # the coalesce makes the COLUMN non-nullable, so downstream joins on it
    # generate NO inferred isnotnull constraint.  Without it, Catalyst pushes
    # the inferred filter through this projection and re-evaluates the ENTIRE
    # argmin chain per row a second time (measured: the IVFADC scorer went
    # 13.3 s → 1.1 s at sf0.1 when the inference died; pinned by
    # tests/test_plan_shapes.py)
    out = [F.coalesce(F.col(f"best.{key}"), F.lit(-1)).alias(key),
           F.col("best.dist").alias("dist")]
    if with_cvec:
        out.append(F.col("best.cvec").alias("cvec"))
    return (df.withColumn("best", argmin(F.col(vec), codebook, key, with_cvec))
            .select(*df.columns, *out))


def seq_sqdist(a, b):
    """numpy twin of :func:`sqdist` over the LAST axis (broadcasting): the
    same sequential fold, operation for operation, so results are bit-equal
    to both engines.  ``seq_sqdist(mat, 0.0)`` is :func:`norm2` per row."""
    diff = a - b
    sq = diff * diff
    d = sq[..., 0].copy()
    for i in range(1, sq.shape[-1]):
        d += sq[..., i]
    return d


def dlit(x: float) -> str:
    """SQL double literal reproducing the exact binary64 value: ``repr`` is
    the shortest round-trip decimal, and Spark's parser rebuilds the
    identical double from it (``-0.0`` included).  NaN and ±Inf have no SQL
    literal form and raise ``ValueError``."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"dlit: {x!r} has no SQL double literal")
    return repr(x) + "D"


def _vec_lit(cvec) -> str:
    return f"array({', '.join(dlit(x) for x in cvec)})"


def lit_centroid_array(rows) -> str:
    """Centroid rows ``(cid, cvec)`` as ONE literal
    ``array<struct<cid: bigint, cvec>>`` SQL expression, sorted by cid for
    reproducibility (min-over-set is order-independent).  No rows give a
    typed empty array, over which :func:`argmin` is NULL."""
    if not rows:
        return "cast(array() as array<struct<cid:bigint,cvec:array<double>>>)"
    items = ", ".join(
        f"named_struct('cid', {int(r['cid'])}L, "
        f"'cvec', {_vec_lit(r['cvec'])})"
        for r in sorted(rows, key=lambda r: r["cid"]))
    return f"array({items})"


def lit_codebook_by_m(rows, n_sub: int) -> str:
    """Per-subspace codebook rows ``(m, c, cvec)`` (``m`` in ``1..n_sub``) as
    ONE literal ``array<array<struct<c, cvec>>>`` indexed by subspace
    (``element_at(..., m)``).  The rows must cover exactly the subspaces
    ``1..n_sub``, else ``ValueError`` names the missing ones."""
    by_m: dict = {}
    for r in sorted(rows, key=lambda r: (r["m"], r["c"])):
        by_m.setdefault(r["m"], []).append(r)
    if sorted(by_m) != list(range(1, n_sub + 1)):
        missing = [m for m in range(1, n_sub + 1) if m not in by_m]
        raise ValueError(
            f"lit_codebook_by_m: subspaces {missing} have no codeword "
            f"(codebook covers {sorted(by_m)}, expected 1..{n_sub})")
    per_m = [
        "array(" + ", ".join(
            f"named_struct('c', {int(r['c'])}, 'cvec', {_vec_lit(r['cvec'])})"
            for r in by_m[m]) + ")"
        for m in range(1, n_sub + 1)]
    return f"array({', '.join(per_m)})"
