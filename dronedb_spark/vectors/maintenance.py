"""IVF index maintenance — the re-centroid migration plan (beyond the
reference; the serving-side question every IVF/ANN store faces at
100 TB: after the corpus drifts, is re-quantizing worth the rewrite?).

The store's cell layout was built against CARRIED centroids
(``vectors/semdedup.py`` / ``vectors/ivf.py`` discipline: store and
batch must share the quantizer).  When the original seed centroids are
retired, the candidate new quantizer here is the deterministic
RE-SEED both engines can reproduce exactly: each cell promotes its
senior non-seed member (lowest ``vec_id`` ≥ N_CENTROIDS) to centroid.
Re-assigning the corpus against the promoted set yields the MIGRATION
MATRIX — (old_cell, new_cell, n, vid_sum) — whose off-diagonal mass is
precisely the bytes a rebuild would rewrite; a maintenance job
compares that to the recall gain before committing the shuffle.

Scale shape: two broadcast-argmin assignment passes (each one shuffle
of (vec_id, best) pairs, map-side-combinable packed MIN — never a
pairwise join) + one count aggregate on (old, new).  The promoted
centroid set is cell-count-sized and collects as model state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.vectors.ivf import (
    N_CENTROIDS,
    _D_ASSIGN,
    _D_DOT,
    _D_NORM,
    _assign_cells,
    _d_packed,
    ivf_assign,
)


def promote_centroids(embeddings: DataFrame, old_assign: DataFrame) -> DataFrame:
    """(cid, c_emb): each old cell's senior non-seed member — the
    deterministic re-seed (cid keeps the old cell's number, so the
    migration matrix diagonal is 'stayed')."""
    nc = (
        old_assign.filter(F.col("vec_id") >= N_CENTROIDS)
        .groupBy("old_cell")
        .agg(F.min("vec_id").alias("nc_id"))
    )
    return nc.join(
        embeddings.select(F.col("vec_id").alias("nc_id"), "embedding"), "nc_id"
    ).select(F.col("old_cell").cast("int").alias("cid"), F.col("embedding").alias("c_emb"))


def ivf_migration_plan(embeddings: DataFrame) -> DataFrame:
    """(old_cell, new_cell, n, vid_sum): the re-quantization migration
    matrix — n vectors currently in ``old_cell`` would land in
    ``new_cell`` under the promoted centroids; vid_sum pins exact
    membership.  Off-diagonal rows are the rewrite cost."""
    old = ivf_assign(embeddings).select(
        "vec_id", F.col("cell").alias("old_cell")
    )
    new_cents = promote_centroids(embeddings, old)
    new = _assign_cells(embeddings, new_cents).select(
        "vec_id", F.col("cell").alias("new_cell")
    )
    return (
        old.join(new, "vec_id")
        .groupBy("old_cell", "new_cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("vec_id").cast("bigint").alias("vid_sum"),
        )
    )


@check(
    "ivf_migration_plan",
    small=True,
    oracle=f"""
        WITH {_D_ASSIGN},
        old_assign AS (
            SELECT vec_id, cell AS old_cell FROM assign),
        nc AS (
            SELECT old_cell AS cid, MIN(vec_id) AS nc_id
            FROM old_assign WHERE vec_id >= {N_CENTROIDS}
            GROUP BY old_cell),
        new_c AS (
            SELECT CAST(nc.cid AS INT) AS cid, e.embedding AS c_emb
            FROM nc JOIN embeddings e ON e.vec_id = nc.nc_id),
        rescored AS (
            SELECT e.vec_id,
                   {_d_packed(_D_DOT.format(a='e.embedding', b='c.c_emb')
                              + ' / (' + _D_NORM.format(v='e.embedding')
                              + ' * ' + _D_NORM.format(v='c.c_emb') + ')',
                              'c.cid')} AS packed
            FROM embeddings e CROSS JOIN new_c c),
        new_assign AS (
            SELECT vec_id, CAST(substr(MIN(packed), 10, 2) AS INT) AS new_cell
            FROM rescored GROUP BY vec_id)
        SELECT o.old_cell, n.new_cell,
               CAST(COUNT(1) AS BIGINT) AS n,
               CAST(SUM(o.vec_id) AS BIGINT) AS vid_sum
        FROM old_assign o JOIN new_assign n ON n.vec_id = o.vec_id
        GROUP BY o.old_cell, n.new_cell
        ORDER BY o.old_cell, n.new_cell""",
)
def q_ivf_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full migration matrix of retiring the seed centroids for the
    promoted per-cell seniors — every (old→new) flow's count and
    membership sum re-derived by the oracle's independent double
    assignment."""
    return ivf_migration_plan(load(spark, sf_dir, "embeddings")).orderBy(
        "old_cell", "new_cell"
    )
