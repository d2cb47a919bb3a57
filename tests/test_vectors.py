"""The vector-fold module (operators/vectors.py) and the bounded driver pull
every codebook goes through (artifacts.bounded_rows): literal baking rejects
what SQL cannot carry, the Spark folds equal their numpy twin bit for bit,
and a pull over its bound fails before the relation reaches the driver.
All inputs are driver-built."""

from __future__ import annotations

import math
import time

import pytest


@pytest.mark.parametrize("x", [float("nan"), float("inf"), float("-inf")])
def test_dlit_rejects_non_finite(x):
    from alertas_spark.operators.vectors import dlit

    with pytest.raises(ValueError, match="no SQL double literal"):
        dlit(x)


def test_dlit_round_trips_exact_doubles_and_negative_zero(spark):
    from alertas_spark.operators.vectors import dlit

    vals = [-0.0, 0.0, 0.1, -1e-300, 5e-324, 1.7976931348623157e308,
            1 / 3, -2.5]
    got = spark.sql("SELECT array(" + ", ".join(dlit(x) for x in vals)
                    + ") AS a").collect()[0]["a"]
    assert [x.hex() for x in got] == [x.hex() for x in vals]
    assert math.copysign(1.0, got[0]) == -1.0


def test_lit_codebook_by_m_names_the_missing_subspace():
    from alertas_spark.operators.vectors import lit_codebook_by_m

    rows = [{"m": m, "c": c, "cvec": [0.5, -0.25]}
            for m in (1, 2, 4) for c in range(2)]
    with pytest.raises(ValueError, match=r"subspaces \[3\] have no codeword"):
        lit_codebook_by_m(rows, 4)


def test_spark_folds_equal_the_numpy_fold_and_ties_go_low(spark):
    """sqdist/norm2/dot against the sequential fold on values where the
    summation order changes the result (1e16 absorbs each 1.0 added after
    it, so the left fold of the dot gives 0.1·0.7+… where the exact sum has
    an extra 2.0); and the literal argmin between two codewords at exactly
    the same distance picks the lower id."""
    import numpy as np
    from pyspark.sql import functions as F

    from alertas_spark.operators.vectors import (argmin, dot,
                                                 lit_centroid_array, norm2,
                                                 seq_sqdist, sqdist)

    a = [1.0, 1e16, 1.0, -1e16, 0.1, 0.2, 0.3]
    b = [1.0, 1.0, 1.0, 1.0, 0.7, 0.1, 0.3]
    t = [0.5, 0.25, -0.75]
    cents = [{"cid": 2, "cvec": [x + 1.0 for x in t]},
             {"cid": 1, "cvec": [x - 1.0 for x in t]},
             {"cid": 3, "cvec": [4.0, 4.0, 4.0]}]
    df = spark.createDataFrame([(a, b, t)],
                               "a array<double>, b array<double>, "
                               "t array<double>")
    r = df.select(
        sqdist(F.col("a"), F.col("b")).alias("sq"),
        norm2(F.col("a")).alias("n2"),
        dot(F.col("a"), F.col("b")).alias("dt"),
        argmin(F.col("t"), F.expr(lit_centroid_array(cents)), "cid")
        .alias("best")).collect()[0]
    na, nb = np.array(a), np.array(b)
    assert r.sq == float(seq_sqdist(na, nb))
    assert r.n2 == float(seq_sqdist(na, 0.0))
    want_dot = 0.0
    for x, y in zip(a, b):
        want_dot += x * y
    assert r.dt == want_dot
    assert want_dot != math.fsum(x * y for x, y in zip(a, b))
    assert (r.best.cid, r.best.dist) == (1, 3.0)
    empty = df.select(argmin(F.col("t"), F.expr(lit_centroid_array([])),
                             "cid").alias("best")).collect()[0]
    assert empty.best is None


def test_bounded_rows_refuses_an_oversized_relation_before_pulling(spark):
    """A billion-row relation against a bound of 8: the limit is applied
    before the collect, so at most 9 rows are produced and the refusal is
    immediate — a post-collect check would try to materialize 10⁹ rows."""
    from alertas_spark.operators.artifacts import bounded_rows

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="bounded_rows.*bound"):
        bounded_rows(spark.range(10**9), 8, "adversarial")
    assert time.monotonic() - t0 < 60

