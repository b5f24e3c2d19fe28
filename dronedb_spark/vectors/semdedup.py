"""SemDeDup — semantic (embedding-space) deduplication via cluster-then-
prune (beyond the reference; public method: Abbas et al., "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication").

The method that makes embedding dedup tractable at corpus scale: an
ALL-pairs cosine pass is O(n²); clustering first (here the IVF coarse
quantizer, ``vectors/ivf.py``) confines the pairwise pass to within-
cluster candidates — O(Σ nᵢ²) with nᵢ ≈ n/k — and each cluster's pass
is an equi-self-join on the cell id, so the whole prune is one shuffle
keyed by cell.  Within a cluster, every vector whose cosine similarity
to a LOWER-id member reaches the threshold is dropped; the minimum id
of each duplicate group survives as its representative (deterministic,
no iteration).

At 100 TB: cell is the partitioning column (same layout the IVF index
already wants), the self-join never crosses cells, and a skewed mega-
cell is exactly the case AQE's skew-join split handles — or raise
N_CENTROIDS, which shrinks every nᵢ quadratically.

The Arrow pair kernels additionally enforce an IN-OPERATOR cell-size
guard (``MAX_CELL_ROWS``): ``groupBy().applyInPandas`` hands the whole
cell to one task, so an unguarded n×n scratch matrix on a skewed
mega-cell would OOM before AQE can help.  Past the guard the pair loop
tiles in fixed-size row blocks — scratch stays ≤ max_cell_rows²
doubles, every dot product accumulates in the SAME dimension-
sequential order, so results are bit-identical to the full-matrix
path (pytest plants an oversized cell and pins equality).
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
    _d_packed,
    ivf_assign,
)
from dronedb_spark.vectors.knn import _dot, _norm

SEM_THRESH = 0.95


def semdedup(embeddings: DataFrame, thresh: float = SEM_THRESH) -> DataFrame:
    """→ (vec_id, cell, kept): cluster with the IVF quantizer, prune
    within-cell near-duplicates, keep each group's minimum id."""
    vecs = ivf_assign(embeddings).select("vec_id", "cell").join(
        embeddings.select("vec_id", "embedding"), "vec_id"
    )
    a = vecs.select(
        "cell", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    b = vecs.select(
        "cell", F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    cos = _dot("a_emb", "b_emb") / (_norm("a_emb") * _norm("b_emb"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(cos, 6) >= thresh)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        ivf_assign(embeddings)
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", "cell", F.col("_drop").isNull().alias("kept")
        )
    )


# ------------------------------------------------------------------ check

# The synthetic embeddings carry no organic high-cosine pairs (max
# within-cell cos ≈ 0.49), so the scored corpus injects EXACT duplicates
# of every 5th vector at vec_id+10000 — cos 1.0 with their originals,
# same cell by construction — and the check pins that exactly those
# copies are pruned while every organic vector survives.
_SEM_CORPUS = """
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id, embedding, label
    FROM embeddings WHERE vec_id % 5 = 0
"""


@check(
    "semdedup_cell_prune",
    # DuckDB rejects a CTE that shadows the base table it reads, so the
    # assignment CTE text is re-pointed at the injected corpus by name
    oracle=f"""
        WITH sem_corpus AS ({_SEM_CORPUS}),
        {_D_ASSIGN.replace("FROM embeddings", "FROM sem_corpus")},
        v AS (SELECT a.vec_id, a.cell, e.embedding
              FROM assign a JOIN sem_corpus e USING (vec_id)),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ROUND(
                list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                6) >= {SEM_THRESH}
        )
        SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
        FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id""",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    return semdedup(corpus).orderBy("vec_id")


# ----------------- Arrow-kernel variant with per-cell rollup (r10) --
# The relational prune above is the oracle-parity form; the variant
# below is the SERVING shape: one per-cell Arrow pair kernel
# (dimension-sequential micro-integer cosines — no per-pair HOF
# dispatch), scale-invariant planted copies, and the per-cell
# accounting a curation pipeline reports.

TAU_MICRO = 900_000  # cos >= 0.9 → semantic duplicate
_COPY_OFFSET = 10_000

# In-operator cell-size guard: cells up to this many rows use one full
# n×n pass (two scratch matrices ≈ 2·max² doubles ≈ 256 MiB at 4096);
# larger cells tile the pair loop in row blocks sized so each block's
# (B × n) scratch never exceeds the same max² budget.  Bit-identical
# either way — the guard changes MEMORY shape, never values.
MAX_CELL_ROWS = 4_096


def _near_blocks(mat, tau_micro: int, max_cell_rows: int, start: int = 0):
    """Yield (lo, hi, near) blocks of the pair predicate micro-cosine ≥
    tau over rows [start, n) × all rows — the full matrix in one block
    when n ≤ max_cell_rows, else fixed-size row tiles whose (B × n)
    scratch stays within the max_cell_rows² budget.  Accumulation is
    dimension-sequential with in-place adds in BOTH shapes, so the
    doubles (and the rounded micro integers) are identical."""
    import numpy as np

    n = mat.shape[0]
    ss = np.zeros(n)
    for i in range(mat.shape[1]):
        ss += mat[:, i] * mat[:, i]
    nrm = np.sqrt(ss)
    if n <= max_cell_rows:
        block = n - start if n > start else 1
    else:
        block = max(1, (max_cell_rows * max_cell_rows) // max(n, 1))
    for lo in range(start, n, block):
        hi = min(lo + block, n)
        dot = np.zeros((hi - lo, n))
        tmp = np.empty((hi - lo, n))
        for i in range(mat.shape[1]):
            np.multiply.outer(mat[lo:hi, i], mat[:, i], out=tmp)
            dot += tmp
        micro = np.floor(
            dot / (nrm[lo:hi, None] * nrm[None, :]) * 1000000.0 + 0.5
        ).astype(np.int64)
        yield lo, hi, micro >= tau_micro


def _arrow_assign(src: "DataFrame") -> "DataFrame":
    """(vec_id, cell): nearest-centroid assignment, Arrow path — the
    EXACT semantics of ``ivf_assign``'s packed argmin (micro-distance
    ROUND then cid tie-break, cosine accumulated dimension-sequentially
    like both engines' folds) without the interpreted HOF, which costs
    ~2.5 s per 20k vectors at sf0.1.  Centroids (vec_id < N_CENTROIDS
    of the corpus) collect driver-side — model state."""
    import numpy as np
    import pandas as pd

    c_rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in src.filter(F.col("vec_id") < N_CENTROIDS).collect()
    )  # centroid model state: ≤ N_CENTROIDS rows by the filter
    assert len(c_rows) <= N_CENTROIDS, f"centroid grain blew up: {len(c_rows)}"
    cids = np.asarray([c for c, _ in c_rows], dtype=np.int64)
    cm = np.stack([np.asarray(v, dtype=np.float64) for _, v in c_rows])
    ss_c = cm[:, 0] * cm[:, 0]
    for i in range(1, cm.shape[1]):
        ss_c = ss_c + cm[:, i] * cm[:, i]
    c_norm = np.sqrt(ss_c)

    def kern(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dot = mat[:, 0][:, None] * cm[:, 0][None, :]
            ss = mat[:, 0] * mat[:, 0]
            for i in range(1, mat.shape[1]):
                dot = dot + mat[:, i][:, None] * cm[:, i][None, :]
                ss = ss + mat[:, i] * mat[:, i]
            cos = dot / (np.sqrt(ss)[:, None] * c_norm[None, :])
            micro = np.floor((1.0 - cos) * 1000000.0 + 0.5).astype(np.int64)
            key = micro * 100 + cids[None, :]  # the packed-string order
            cell = cids[np.argmin(key, axis=1)].astype(np.int32)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].astype("int64"), "cell": cell}
            )

    return src.select("vec_id", "embedding").mapInPandas(
        kern, schema="vec_id bigint, cell int"
    )


def semdedup_flags(
    embeddings: DataFrame,
    tau_micro: int = TAU_MICRO,
    max_cell_rows: int = MAX_CELL_ROWS,
) -> DataFrame:
    """(cell, vec_id, is_dup): the per-vector keep/remove decision.
    One IVF assignment pass, then a per-cell Arrow pair kernel —
    dimension-sequential accumulation (the list_dot_product op order),
    micro-integer threshold, remove on any nearer LOWER id.  Cells past
    ``max_cell_rows`` tile the pair loop (bit-identical, bounded
    scratch — the mega-cell OOM guard)."""
    import numpy as np
    import pandas as pd

    from dronedb_spark.tables import barrier_persist

    # the assignment and the pair kernel both consume the (possibly
    # expression-derived) embedding column — barrier it so interpreted
    # array expressions upstream (e.g. the 10x twin's scaling transform)
    # evaluate once, not once per branch (measured 13.3 -> ~6 s on the
    # 10x twin at sf0.1)
    src = barrier_persist(
        embeddings.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    cells = _arrow_assign(src)
    e = src.select("vec_id", "embedding").join(cells, "vec_id")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(columns=["cell", "vec_id", "is_dup"]).astype(
                {"cell": "int32", "vec_id": "int64", "is_dup": "int64"}
            )
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        # dimension-sequential accumulation (the list_dot_product op
        # order, zero-seeded like both engines' folds) with in-place
        # adds, block-tiled past max_cell_rows — bit-identical results
        # in both shapes
        is_dup = np.zeros(n, dtype=np.int64)
        for lo, hi, near in _near_blocks(mat, tau_micro, max_cell_rows):
            # strictly-lower triangle: J removed if any I < J (vec_id order)
            for j in range(lo, hi):
                is_dup[j] = int(bool(near[j - lo, :j].any()))
        return pd.DataFrame(
            {
                "cell": pdf["cell"],
                "vec_id": pdf["vec_id"].astype("int64"),
                "is_dup": is_dup,
            }
        )

    return e.groupBy("cell").applyInPandas(
        kern, schema="cell int, vec_id bigint, is_dup bigint"
    )


def semdedup_rollup(
    embeddings: DataFrame,
    tau_micro: int = TAU_MICRO,
    max_cell_rows: int = MAX_CELL_ROWS,
) -> DataFrame:
    """(cell, n_vecs, n_removed, removed_id_sum): the per-cell dedup
    accounting — removed_id_sum pins WHICH vectors were removed, not
    just how many."""
    flags = semdedup_flags(embeddings, tau_micro, max_cell_rows)
    return flags.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("is_dup").cast("bigint").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(F.col("is_dup") == 1, F.col("vec_id"))), F.lit(0)
        )
        .cast("bigint")
        .alias("removed_id_sum"),
    )


def _with_planted_copies(embeddings: DataFrame) -> DataFrame:
    """Corpus ∪ ×1.25-scaled copies of every 10th vector (new ids
    +10000): cosine-invariant plants, identical doubles both engines."""
    base = embeddings.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _COPY_OFFSET).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    return base.unionByName(copies)


@check(
    "semdedup_cell_rollup",
    small=True,
    oracle=f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
            FROM embeddings
            UNION ALL
            SELECT vec_id + {_COPY_OFFSET},
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.25)
            FROM embeddings WHERE vec_id % 10 = 0),
        c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS c_emb
              FROM base WHERE vec_id < {N_CENTROIDS}),
        scored AS (
            SELECT e.vec_id,
                   {_d_packed(_D_DOT.format(a='e.embedding', b='c.c_emb')
                              + ' / (' + _D_NORM.format(v='e.embedding')
                              + ' * ' + _D_NORM.format(v='c.c_emb') + ')',
                              'c.cid')} AS packed
            FROM base e CROSS JOIN c),
        assign AS (
            SELECT s.vec_id,
                   CAST(substr(MIN(s.packed), 10, 2) AS INT) AS cell
            FROM scored s GROUP BY s.vec_id),
        e AS (
            SELECT a.vec_id, a.cell, b.embedding
            FROM assign a JOIN base b USING (vec_id)),
        dup AS (
            SELECT DISTINCT x.vec_id
            FROM e x JOIN e y
              ON y.cell = x.cell AND y.vec_id < x.vec_id
            WHERE CAST(ROUND({_D_DOT.format(a='x.embedding', b='y.embedding')}
                  / ({_D_NORM.format(v='x.embedding')}
                     * {_D_NORM.format(v='y.embedding')})
                  * 1000000) AS BIGINT) >= {TAU_MICRO})
        SELECT e.cell,
               CAST(COUNT(1) AS BIGINT) AS n_vecs,
               CAST(COUNT(d.vec_id) AS BIGINT) AS n_removed,
               CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS removed_id_sum
        FROM e LEFT JOIN dup d ON d.vec_id = e.vec_id
        GROUP BY e.cell ORDER BY e.cell""",
)
def q_semdedup_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the corpus with planted ×1.25 copies: every copy
    must be removed inside its original's cell (scale-invariant cosine
    = 1.0), nothing else is near enough (max natural pair ≈ 0.51) —
    the oracle re-derives assignment, pair search, and the keep rule
    independently."""
    corpus = _with_planted_copies(load(spark, sf_dir, "embeddings"))
    return semdedup_rollup(corpus).orderBy("cell")


# ------------------------------------------- daily-ingest increment --


def write_semdedup_store(
    embeddings: DataFrame, path: str, centroids: DataFrame
) -> None:
    """Persist the KEPT corpus partitioned by IVF cell — the semantic
    dedup family's serving store (cell dirs = partition pruning for the
    batch probe, the ivfpq/ann-store discipline).  ``centroids`` is the
    carried quantizer state: store and batch MUST assign against the
    same centroids or their cells disagree."""
    from dronedb_spark.vectors.ivf import _assign_cells

    cells = _assign_cells(
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ),
        centroids,
    )
    (
        embeddings.select("vec_id", "embedding")
        .join(cells, "vec_id")
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )


def incremental_semdedup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    centroids: DataFrame,
    tau_micro: int = TAU_MICRO,
    max_cell_rows: int = MAX_CELL_ROWS,
) -> DataFrame:
    """(cell, n_batch, n_removed, removed_id_sum): the daily increment —
    new vectors assign to cells (broadcast argmin against the carried
    centroids), read ONLY their cells' store directories, and a batch
    vector is removed when the STORE already holds a vector within the
    threshold (corpus-wins keep-first) or a LOWER batch id is.  The
    corpus is never re-scored against itself; the pair pass is
    (batch × cell slice)-sized, block-tiled past ``max_cell_rows``
    (bounded scratch on a skewed mega-cell, bit-identical results)."""
    import numpy as np
    import pandas as pd

    from dronedb_spark.vectors.ivf import _assign_cells

    b = batch.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = _assign_cells(b, centroids).select("vec_id", "cell")
    bcells = sorted(
        r["cell"] for r in assigned.select("cell").distinct().collect()
    )  # distinct cell ids: ≤ N_CENTROIDS rows — partition-pruning probe set
    assert len(bcells) <= N_CENTROIDS, f"cell grain blew up: {len(bcells)}"
    store = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(bcells))
        .select("vec_id", "embedding", "cell", F.lit(1).alias("is_store"))
    )
    both = (
        b.join(assigned, "vec_id")
        .select("vec_id", "embedding", "cell", F.lit(0).alias("is_store"))
        .unionByName(store)
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["is_store", "vec_id"], ascending=[False, True])
        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        batch_mask = (pdf["is_store"] == 0).to_numpy()
        if n == 0 or not batch_mask.any():
            return pd.DataFrame(
                columns=["cell", "vec_id", "is_dup"]
            ).astype({"cell": "int32", "vec_id": "int64", "is_dup": "int64"})
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        # dimension-sequential accumulation (the list_dot_product op
        # order, zero-seeded like both engines' folds) with in-place
        # adds, block-tiled past max_cell_rows — bit-identical results
        # in both shapes.  Rows sorted store-first then vec_id, so only
        # the batch tail [j0, n) needs pair rows at all.
        vids = pdf["vec_id"].to_numpy()
        j0 = int(np.argmax(batch_mask))  # first batch row (store sorts first)
        rows = []
        for lo, hi, near in _near_blocks(mat, tau_micro, max_cell_rows, start=j0):
            for j in range(lo, hi):
                if not batch_mask[j]:
                    continue
                # removed if near ANY store vector, or any LOWER-id batch one
                dup = bool(
                    (near[j - lo, ~batch_mask]).any()
                    or any(
                        near[j - lo, i]
                        for i in range(n)
                        if batch_mask[i] and vids[i] < vids[j]
                    )
                )
                rows.append(
                    {"cell": pdf["cell"].iloc[j], "vec_id": vids[j],
                     "is_dup": int(dup)}
                )
        return pd.DataFrame(rows)

    flags = both.groupBy("cell").applyInPandas(
        kern, schema="cell int, vec_id bigint, is_dup bigint"
    )
    return flags.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum("is_dup").cast("bigint").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(F.col("is_dup") == 1, F.col("vec_id"))), F.lit(0)
        )
        .cast("bigint")
        .alias("removed_id_sum"),
    )


@check(
    "semdedup_incremental",
    small=True,
    oracle=f"""
        WITH store_base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
            FROM embeddings WHERE vec_id % 4 <> 0),
        batch_base AS (
            SELECT vec_id + {_COPY_OFFSET} AS vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.25)
                       AS embedding
            FROM embeddings WHERE vec_id % 20 = 0
            UNION ALL
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
            FROM embeddings WHERE vec_id % 4 = 0 AND vec_id >= {N_CENTROIDS}),
        c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS c_emb
              FROM embeddings WHERE vec_id < {N_CENTROIDS}),
        allv AS (
            SELECT vec_id, embedding, 1 AS is_store FROM store_base
            UNION ALL
            SELECT vec_id, embedding, 0 AS is_store FROM batch_base),
        scored AS (
            SELECT v.vec_id,
                   {_d_packed("list_dot_product(v.embedding, CAST(c.c_emb AS DOUBLE[]))"
                              " / (sqrt(list_dot_product(v.embedding, v.embedding))"
                              " * sqrt(list_dot_product(CAST(c.c_emb AS DOUBLE[]), CAST(c.c_emb AS DOUBLE[]))))",
                              "c.cid")} AS packed
            FROM allv v CROSS JOIN c),
        assign AS (
            SELECT vec_id, CAST(substr(MIN(packed), 10, 2) AS INT) AS cell
            FROM scored GROUP BY vec_id),
        e AS (
            SELECT v.vec_id, v.embedding, v.is_store, a.cell
            FROM allv v JOIN assign a USING (vec_id)),
        dup AS (
            SELECT DISTINCT x.vec_id
            FROM e x JOIN e y
              ON y.cell = x.cell
             AND (y.is_store = 1 OR y.vec_id < x.vec_id)
            WHERE x.is_store = 0
              AND CAST(ROUND(list_dot_product(x.embedding, y.embedding)
                  / (sqrt(list_dot_product(x.embedding, x.embedding))
                     * sqrt(list_dot_product(y.embedding, y.embedding)))
                  * 1000000) AS BIGINT) >= {TAU_MICRO})
        SELECT e.cell,
               CAST(COUNT(1) AS BIGINT) AS n_batch,
               CAST(COUNT(d.vec_id) AS BIGINT) AS n_removed,
               CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS removed_id_sum
        FROM e LEFT JOIN dup d ON d.vec_id = e.vec_id
        WHERE e.is_store = 0
        GROUP BY e.cell ORDER BY e.cell""",
)
def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily SemDeDup: the store is 3/4 of the corpus (cell-partitioned
    on disk), the batch is the held-out quarter plus ×1.25 copies of
    every 20th store vector — the copies MUST be removed (their
    originals sit in the store), held-out originals survive, and the
    corpus is never re-scored.  Scratch-dir check: collected
    in-function."""
    import tempfile

    from dronedb_spark.vectors.ivf import _centroids

    emb = load(spark, sf_dir, "embeddings")
    store_docs = emb.filter(F.col("vec_id") % 4 != 0)
    batch = (
        emb.filter(F.col("vec_id") % 20 == 0)
        .select(
            (F.col("vec_id") + _COPY_OFFSET).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * F.lit(1.25),
            ).alias("embedding"),
        )
        .unionByName(
            emb.filter(
                (F.col("vec_id") % 4 == 0) & (F.col("vec_id") >= N_CENTROIDS)
            ).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            )
        )
    )
    cents = _centroids(emb).select(
        "cid", F.col("c_emb").cast("array<double>").alias("c_emb")
    )
    with tempfile.TemporaryDirectory() as td:
        path = td + "/sem_store"
        write_semdedup_store(store_docs, path, cents)
        rows = [
            (r["cell"], r["n_batch"], r["n_removed"], r["removed_id_sum"])
            for r in incremental_semdedup(spark, path, batch, cents)
            .orderBy("cell")
            .collect()
        ]
    return spark.createDataFrame(
        rows, "cell int, n_batch bigint, n_removed bigint, removed_id_sum bigint"
    )


# ------------------------------------------------------ 10x load twin --

_10X_COPIES = 10
_10X_STRIDE = 100_000


def _with_10x_copies(embeddings: DataFrame) -> DataFrame:
    """Ten ×(1 + c/8) scalings of every vector under remapped ids — the
    'same corpus re-embedded ten times' degenerate-heavy case: scaling
    is cosine-invariant, so every cell fills with 10-member identical
    directions and the pair kernel runs at 100× its per-cell load while
    the expected answer stays closed-form (keep the lowest id per
    group)."""
    import numpy as np
    import pandas as pd

    def kernel(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            for c in range(_10X_COPIES):
                scaled = mat * (1.0 + c / 8.0)  # exact dyadic factor
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy() + c * _10X_STRIDE,
                        "label": pdf["label"],
                        "embedding": list(scaled),
                    }
                )

    # Arrow path: one numpy scale per copy — the interpreted transform
    # HOF costs ~3 s alone at sf0.1 (1.28M per-element lambda
    # dispatches); the scale factor is dyadic so the doubles are
    # IDENTICAL to the engines' x * (1 + c/8)
    return embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    ).mapInPandas(
        kernel, schema="vec_id bigint, label bigint, embedding array<double>"
    )


@check(
    "semdedup_cell_rollup_10x",
    small=True,
    oracle=f"""
        WITH base AS (
            SELECT e.vec_id + c.c * {_10X_STRIDE} AS vec_id,
                   list_transform(CAST(e.embedding AS DOUBLE[]),
                                  x -> x * (1.0 + c.c / 8.0)) AS embedding
            FROM embeddings e,
                 (SELECT unnest(range(0, {_10X_COPIES})) AS c) c),
        c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS c_emb
              FROM base WHERE vec_id < {N_CENTROIDS}),
        scored AS (
            SELECT e.vec_id,
                   {_d_packed(_D_DOT.format(a='e.embedding', b='c.c_emb')
                              + ' / (' + _D_NORM.format(v='e.embedding')
                              + ' * ' + _D_NORM.format(v='c.c_emb') + ')',
                              'c.cid')} AS packed
            FROM base e CROSS JOIN c),
        assign AS (
            SELECT s.vec_id,
                   CAST(substr(MIN(s.packed), 10, 2) AS INT) AS cell
            FROM scored s GROUP BY s.vec_id),
        e AS (
            SELECT a.vec_id, a.cell, b.embedding
            FROM assign a JOIN base b USING (vec_id)),
        dup AS (
            SELECT DISTINCT x.vec_id
            FROM e x JOIN e y
              ON y.cell = x.cell AND y.vec_id < x.vec_id
            WHERE CAST(ROUND({_D_DOT.format(a='x.embedding', b='y.embedding')}
                  / ({_D_NORM.format(v='x.embedding')}
                     * {_D_NORM.format(v='y.embedding')})
                  * 1000000) AS BIGINT) >= {TAU_MICRO})
        SELECT e.cell,
               CAST(COUNT(1) AS BIGINT) AS n_vecs,
               CAST(COUNT(d.vec_id) AS BIGINT) AS n_removed,
               CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS removed_id_sum
        FROM e LEFT JOIN dup d ON d.vec_id = e.vec_id
        GROUP BY e.cell ORDER BY e.cell""",
)
def q_semdedup_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair kernel at 100× per-cell load: ten cosine-invariant
    scalings of the corpus — every direction group must collapse to its
    lowest id, oracle re-derives every cell's accounting."""
    corpus = _with_10x_copies(load(spark, sf_dir, "embeddings"))
    return semdedup_rollup(corpus).orderBy("cell")
