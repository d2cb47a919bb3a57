"""Deterministic k-means — the IVF centroid *trainer* as a declared query.

Two Lloyd iterations over the embedding table, fully deterministic and therefore
DuckDB-oracle-checkable (the same property that makes it idempotent across cluster
re-runs):

* init: centroids = the first ``K`` vectors by ``vec_id`` (seeded, not sampled);
* assignment: argmin of the squared L2 distance, computed as a sequential
  left-to-right fold (bit-equal across engines), ties to the lowest centroid id;
* update: per-dimension mean via EXACT decimal accumulation (functions/numeric.py
  contract) — the one step where naive double summation would diverge between
  partitionings and engines.

Scale shape per iteration: the K centroids (K×dim doubles, always tiny)
come to the driver as one bounded pull and go back into the plan as a
constant-folded literal (operators/vectors.py), the argmin is evaluated
INSIDE the scan projection (zero exchange — r18; the former crossJoin +
vec_id-window shape shuffled a full copy of every embedding per round), and
one (cluster, dim) aggregation with map-side combine.  The loop structure is
exactly GraphX/Spark-ML's kmeans; the decimal-sum means are the price of
cross-engine bit-equality and cost one extra cast.

The trained assignment feeds ``simsearch_topk_ivf`` / the blocked dedup as their
coarse partition — closing the loop from raw embeddings to a *trained* IVF index
(the hyperplane partitioner in simsearch.py is the train-free alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.operators.artifacts import bounded_rows, persistent_artifact
from alertas_spark.operators.embgate import EMB_VALID_SQL, valid_embeddings
from alertas_spark.operators.vectors import (dot, lit_centroid_array, nearest,
                                             norm2)
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

K = 8
ITERS = 2
DIM = 64

_DUCK_DIST = ("list_reduce(list_transform(range(1, 65), "
              "i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i])), "
              "(x, y) -> x + y)")


def _duck_assign(centroid_cte: str, out_name: str) -> str:
    """Assignment CTE: per vector, the centroid minimizing sequential-fold L2²."""
    return f"""
    {out_name}_scored AS (
        SELECT e.vec_id, e.emb, c.cid, {_DUCK_DIST} AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DUCK_DIST}, c.cid) AS rn
        FROM v e, {centroid_cte} c
    ), {out_name} AS (
        SELECT vec_id, emb, cid, dist FROM {out_name}_scored WHERE rn = 1
    )"""


def _duck_update(assign_cte: str, out_name: str) -> str:
    """Update CTE: per-dimension decimal-exact mean of the assigned vectors."""
    return f"""
    {out_name}_sums AS (
        SELECT cid, dim,
               CAST(CAST(SUM(CAST(emb[dim] AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
        FROM {assign_cte}, range(1, {DIM} + 1) t(dim)
        GROUP BY cid, dim
    ), {out_name} AS (
        SELECT cid, list(m ORDER BY dim) AS cvec FROM {out_name}_sums GROUP BY cid
    )"""


_DUCK_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v WHERE vec_id < {K}),
    {_duck_assign('c0', 'a1')},
    {_duck_update('a1', 'c1')},
    {_duck_assign('c1', 'a2')}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, ROUND(dist, 6) AS dist
    FROM a2
"""


def _assign(emb: DataFrame, centroids: list,
            with_cvec: bool = False) -> DataFrame:
    # ZERO-exchange assignment: the driver-held centroid rows bake into ONE
    # constant-folded literal array and the argmin runs inside the scan
    # projection (vectors.nearest) — no pack aggregation, no
    # BroadcastExchange job, no join.  The former shape — crossJoin each
    # vector against all K centroids, then argmin via a vec_id window —
    # shuffled and sorted one full copy of every embedding per Lloyd round
    # (measured at sf0.1: 2,000 records / 820 KB per round, the dominant
    # exchange of the trainer); here the only exchanges left in a round are
    # the tiny (cid, dim) mean partials.  ``with_cvec`` carries the winning
    # centroid's vector, so residual consumers need no join-back.
    return nearest(emb, "emb", F.expr(lit_centroid_array(centroids)), "cid",
                   with_cvec)


def _update(assigned: DataFrame) -> DataFrame:
    # Kept as posexplode + (cid, dim) + (cid) two-level aggregation: the r18
    # single-groupBy rewrite (DIM=64 per-dimension decimal sum columns in one
    # agg) was built and MEASURED WORSE — interleaved in-session A/B on
    # kmeans_assign: 2.42 s vs 1.29 s min-of-4, every pass slower; the 64-wide
    # decimal(29,6) buffer update per row costs more than the exploded narrow
    # agg saves, and spark.sql.codegen.maxFields=400 did not recover it.  The
    # 16-wide twin on SUBDIM sub-vectors (pq._sub_mean) measured a wash and
    # ships; at this width the explode is the better local plan and both
    # exchanges are model-geometry-sized.
    sums = (
        assigned.select("cid", F.posexplode("emb").alias("pos", "val"))
        .groupBy("cid", (F.col("pos") + 1).alias("dim"))
        .agg((F.sum(F.col("val").cast("decimal(29,6)")).cast("double")
              / F.count("*")).alias("m"))
    )
    return (
        sums.groupBy("cid")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("dim", "m"))),
                         lambda s: s["m"]).alias("cvec"))
    )


def lloyd(v: DataFrame, k: int, rounds: int) -> DataFrame:
    """``(vec_id, emb, cid, dist)`` after ``rounds`` assignment passes of
    deterministic Lloyd — the one k-means loop (``kmeans_assign``,
    :func:`trained_assignment` and pq's coarse quantizer).  The seed
    centroid ``cid`` is the vector ``vec_id == cid`` for the first ``k`` ids
    (seeded, not sampled), one bounded pull whose ``vec_id`` filter rides
    into the parquet scan.  Between passes the updated centroids come to the
    driver (bounded by model geometry): that collect IS the round's one
    materializing action — the former localCheckpoint cost the same job but
    left a checkpoint-backed table whose pack + broadcast submitted ANOTHER
    job per consumer; literal centroids make every assign a pure projection
    that also truncates the deep lineage."""
    seeds = bounded_rows(
        v.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")),
        k, "kmeans_c0")
    assigned = _assign(v, seeds)
    for _ in range(rounds - 1):
        assigned = _assign(v, bounded_rows(_update(assigned), k, "kmeans_c1"))
    return assigned


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return valid_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))


@declare("kmeans_assign", oracle=_DUCK_ORACLE,
         late=True)  # green r2 driver row + in-window simsearch_topk_ivf_trained re-runs this exact quantizer
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an IVF coarse quantizer with {ITERS} deterministic Lloyd iterations and
    return the final cluster assignment (+ L2² distance) per vector."""
    return lloyd(_embeddings(spark, sf_dir), K, ITERS).select(
        "vec_id", F.col("cid").cast("bigint").alias("cluster"),
        F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# Trained-IVF search: top-k pruned by the kmeans clusters
# ---------------------------------------------------------------------------

_DUCK_TOPK_TRAINED = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v WHERE vec_id < {K}),
    {_duck_assign('c0', 'a1')},
    {_duck_update('a1', 'c1')},
    {_duck_assign('c1', 'a2')},
    n AS (
        SELECT vec_id, emb, cid,
               sqrt(list_reduce(list_transform(emb, x -> x * x), (x, y) -> x + y))
                   AS nrm
        FROM a2
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               list_reduce(list_transform(range(1, {DIM} + 1),
                                          i -> q.emb[i] * c.emb[i]),
                           (x, y) -> x + y) / (q.nrm * c.nrm) AS cos
        FROM n q JOIN n c ON q.vec_id <> c.vec_id AND q.cid = c.cid
        WHERE q.vec_id < 10
    ), ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, ROUND(cos, 6) AS score
    FROM ranked WHERE rnk <= 5
"""


def trained_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse-quantizer assignment ``(vec_id, emb, cid, nrm)``
    through the persistent artifact store — this engine's IVF index.  Within
    a session the Lloyd loop runs once per dataset (operators/memo.py); when
    an artifact store is configured (spark.alertas.artifacts.dir /
    ALERTAS_ARTIFACTS_DIR) the assignment persists as versioned parquet and
    every LATER session loads it instead of re-scanning the corpus
    (operators/artifacts.py; two-session proof in test_artifacts.py).
    Consumers: the trained-IVF search below and the SemDeDup tier
    (operators/semantic.py)."""
    def train() -> DataFrame:
        # lazy: persistent_artifact owns materialization
        return lloyd(_embeddings(spark, sf_dir), K, ITERS).select(
            "vec_id", "emb", "cid", F.sqrt(norm2(F.col("emb"))).alias("nrm"))

    return persistent_artifact(spark, sf_dir, "kmeans_trained_assignment",
                               code_version="1", table="embeddings",
                               build=train)


@declare("simsearch_topk_ivf_trained", oracle=_DUCK_TOPK_TRAINED)
def simsearch_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained-ANN loop in one plan: k-means coarse quantizer (above) →
    cluster-pruned cosine top-k.  Probe-1 over TRAINED cells — what a user gets
    from `kmeans_assign` + `simsearch_topk_ivf` composed, oracle-checked end to end.
    (late: the ANN capability rows in the driver window are ivf_assigned +
    recall_eval; this pins the trained composition locally.)"""
    from alertas_spark.operators.simsearch import N_QUERIES, TOP_K

    n = trained_assignment(spark, sf_dir)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"), F.col("cid").alias("qcid"))
    scored = (
        n.join(F.broadcast(q),
               (F.col("query_id") != F.col("vec_id"))
               & (F.col("qcid") == F.col("cid")))
        .withColumn("cos", dot(F.col("qemb"), F.col("emb"))
                    / (F.col("qnrm") * F.col("nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("cand_id"),
                F.col("rnk").cast("int").alias("rnk"),
                F.round("cos", 6).alias("score"))
    )
