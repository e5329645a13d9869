"""Exact-integer Lloyd k-means over the embedding corpus.

Genuine ITERATIVE clustering under the oracle gate — the companion of
`operators/pca.py` (same design doctrine): every quantity that crosses
an aggregation is an exact integer, so the clustering is bit-identical
at any partitioning and replayable round-by-round in an independent
engine.

- vectors snap to micro-units (``floor(x*1e6 + 0.5)``, the repo's
  embedding convention);
- seeds are the ``k`` vectors with the smallest portable md5 hash of
  their id (no RNG — the SemDeDup seeding rule);
- assignment is argmax cosine **to the centroid SUM vector** (the 1/n
  scale cancels — the nearest_centroid_confusion trick), with dots in
  exact DECIMAL(38,0), norms exact, the score rounded to 6 dp BEFORE
  the argmax, ties → smaller cluster id: fully deterministic;
- update re-sums members per (cluster, dim) — exact; a cluster that
  loses every member carries its previous centroid (mirrored in the
  oracle as a NOT IN union);
- the per-round centroid readback is k×d integers — bounded driver
  state, like PageRank's aggregate collects.

Scale shape per round: one corpus×k broadcast scoring pass (narrow,
no shuffle — centroids are a k-row ``LocalRelation``), one argmax window
keyed by vector id, one (cluster, dim)-keyed sum whose key space is
k×d. Rounds are a driver loop; K is small by construction.

Reference scope: beyond-reference (no ML in the reference); part of
the task brief's embedding family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..core.localframe import local_frame
from ..functions.vectors import micro_units


def _score(qcol, nv2_col, s_col, ncs_col):
    # nv2 is precomputed once per vector (not re-folded per centroid)
    dot = F.aggregate(
        F.zip_with(qcol, s_col,
                   lambda a, b: a.cast("decimal(38,0)") * b),
        F.lit(0).cast("decimal(38,0)"), lambda acc, x: acc + x)
    denom = F.sqrt(nv2_col.cast("double")) * ncs_col
    # zero-norm guard: an all-zero vector (or a degenerate all-zero
    # centroid) has no defined cosine — score it -2.0 (below every
    # real cosine) so the argmax deterministically ties it to the
    # smallest cluster id instead of silently propagating NaN/null
    # (or throwing under ANSI /0)
    return F.when(denom > 0,
                  F.round(dot.cast("double") / denom, 6)) \
            .otherwise(F.lit(-2.0))


def kmeans_model(spark: SparkSession, df: DataFrame,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 k: int = 8, iters: int = 2,
                 dim: int = 64) -> tuple[DataFrame, dict[int, list[int]]]:
    """Train ``iters`` Lloyd rounds; returns ``(assignment, cents)``
    where ``assignment`` is the final (vid, q, cluster, score) frame
    and ``cents`` maps cluster id → exact integer centroid-SUM vector
    (driver state, k×d ints). The reusable "index" half: serve ANN
    with it (probe centroids, search members), or roll it up with
    :func:`kmeans_clusters`."""
    from ..functions.text import portable_hash32
    qv = micro_units(F.col(vec_col), dim)
    nv2 = F.aggregate(F.transform(qv, lambda x: x * x),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    q = (df.select(F.col(id_col).alias("vid"), qv.alias("q"),
                   nv2.alias("nv2"))
         .localCheckpoint(eager=True))

    seed_rows = (q.withColumn("_h", portable_hash32(F.col("vid")))
                 .orderBy("_h", "vid").limit(k).collect())
    cents: dict[int, list[int]] = {int(r["vid"]): list(r["q"])
                                   for r in seed_rows}

    def _cent_df():
        rows = []
        for cid in sorted(cents):
            s = cents[cid]
            nc2 = sum(x * x for x in s)
            rows.append((cid, s, math.sqrt(float(nc2))))
        # rebuilt per Lloyd iteration and broadcast-joined into every
        # assignment query: a LocalRelation, so no job reads a Python RDD
        return local_frame(spark, rows, "cluster long, s array<long>, ncs double")

    def _assign():
        scored = (q.crossJoin(F.broadcast(_cent_df()))
                  .select("vid", "q", "nv2", "cluster",
                          _score(F.col("q"), F.col("nv2"), F.col("s"),
                                 F.col("ncs")).alias("score")))
        win = W.partitionBy("vid").orderBy(F.desc("score"), F.asc("cluster"))
        return (scored.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("vid", "q", "nv2", "cluster", "score"))

    for _ in range(iters):
        sums = (_assign()
                .select("cluster", F.posexplode("q").alias("i", "x"))
                .groupBy("cluster", "i")
                .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
                .collect())
        new: dict[int, list[int]] = {}
        for r in sums:
            new.setdefault(int(r["cluster"]), [0] * dim)[r["i"]] = int(r["s"])
        # empty clusters carry their previous centroid
        for cid, s in cents.items():
            new.setdefault(cid, s)
        cents = new

    return _assign(), cents


def kmeans_clusters(spark: SparkSession, df: DataFrame,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    k: int = 8, iters: int = 2, dim: int = 64) -> DataFrame:
    """Run ``iters`` Lloyd rounds + a final assignment; returns
    (cluster, n_vecs, avg_cos) with ``cluster`` the seed's vector id
    and ``avg_cos`` the mean member-to-centroid cosine (DECIMAL-exact
    sum of the rounded scores, so the mean is order-free)."""
    final, _ = kmeans_model(spark, df, vec_col, id_col, k, iters, dim)
    return (final.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.sum(F.col("score").cast("decimal(9,6)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_cos"))
            .orderBy("cluster"))
