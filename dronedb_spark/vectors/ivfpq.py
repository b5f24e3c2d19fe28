"""IVF-PQ — the combined production ANN index (FAISS ``IVFx,PQy``;
Jégou et al. TPAMI 2011 §V): an IVF coarse quantizer prunes the search
to NPROBE cells, and PQ codes rescore ONLY those candidates with the
query's ADC lookup table.  At 100 TB this composes the two scale wins
already pinned separately — partition-level pruning (the cell is the
physical partitioning column, ``ivf.py:write_ivf_store``) and 16-64×
compressed scoring (``pq.py``: literal-folded codebook, integer LUT) —
so a query reads NPROBE/N_CENTROIDS of the bytes and scores them
without touching raw floats.

Two codebook recipes, both oracle-restated end-to-end (IVF assignment,
centroid probe ranking, PQ training, candidate codes, query LUT,
integer top-k):

  * GLOBAL (``ivfpq_adc_search``) — one PQ codebook trained on the raw
    corpus vectors; simple, and pruning cannot change scores.
  * RESIDUAL (``ivfpq_residual_search``) — the FAISS ``IVFPQ`` default
    (Jégou et al. TPAMI 2011 §V.A): the codebook is trained on
    v − centroid(cell) and the query builds ONE LUT PER PROBED CELL
    from its own residual q − centroid(cell).  Residuals concentrate
    near the origin, so the same code budget quantizes far finer —
    recall@10 ≥ the global recipe is pytest-pinned on the fixture.
    Residual subtraction is a literal fold (N_CENTROIDS×DIM centroid
    doubles in the plan), so the encode stays a zero-shuffle two-stage
    projection; the per-cell LUT select is a CASE over NPROBE branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.vectors.ivf import (
    _D_ASSIGN,
    _D_DOT,
    _D_NORM,
    N_CENTROIDS,
    NPROBE,
    _centroids,
    _d_packed,
    _packed,
    ivf_assign,
)
from dronedb_spark.vectors.knn import _dot, _norm
from dronedb_spark.vectors.pq import (
    _D_SUBS,
    K,
    _code_from_dots,
    _d_assign,
    _d_update,
    _dot_stage,
    _fold_dot,
    _micro_half_up,
    M,
    SUBDIM,
    codebook_for,
    pq_train,
)


def probe_cells_for(emb: DataFrame, query_vec_id: int) -> list[int]:
    """The NPROBE cell ids nearest the query — the probe's tiny model
    state (NPROBE scalars through the driver, same budget as
    ``ivf_probe_store``)."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    return [
        r["cid"]
        for r in _centroids(emb)
        .join(F.broadcast(q))
        .select(
            "cid",
            _packed(
                _dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb")),
                F.col("cid"),
            ).alias("packed"),
        )
        .orderBy("packed")
        .limit(NPROBE)
        .collect()
    ]


def ivfpq_adc_search(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    codebook: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """Top-k by PQ ADC distance over ONLY the NPROBE probed cells.

    Plan shape: cell filter FIRST (at 100 TB: partition pruning on the
    persisted index), then the two-stage literal-folded dot/code
    projections and the integer LUT sum — candidates outside the probed
    cells never reach the dot stage."""
    if codebook is None:
        codebook = pq_train(emb)
    cells = probe_cells_for(emb, query_vec_id)
    q = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    q_emb = [float(v) for v in q[0]["embedding"]]
    cand = (
        ivf_assign(emb)
        .filter(F.col("cell").isin(cells) & (F.col("vec_id") != query_vec_id))
        .select("vec_id", "label", "cell")
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    s1 = _dot_stage(cand, codebook, ["vec_id", "label", "cell"])
    terms = []
    for m in range(M):
        qs = q_emb[m * SUBDIM : (m + 1) * SUBDIM]
        lut = []
        for j in range(K):
            c = codebook.get((m, j))
            if c is None:
                lut.append(None)
                continue
            d2 = _fold_dot(qs, qs) - 2.0 * _fold_dot(qs, c) + _fold_dot(c, c)
            lut.append(_micro_half_up(d2))
        arr = F.array(
            *[F.lit(v) if v is not None else F.lit(None).cast("bigint") for v in lut]
        )
        terms.append(F.element_at(arr, _code_from_dots(m, codebook) + 1))
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return (
        s1.select("vec_id", "label", "cell", score.cast("bigint").alias("adc_micro"))
        .orderBy("adc_micro", "vec_id")
        .limit(k)
    )


# ------------------------------------------------- residual encoding --


def _centroid_floats(emb: DataFrame) -> dict[int, list[float]]:
    """{cid: DIM doubles} — the IVF centroid vectors as driver floats
    (N_CENTROIDS×DIM model state, the probe_cells_for budget)."""
    return {
        int(r["cid"]): [float(v) for v in r["c_emb"]]
        for r in _centroids(emb).collect()
    }


def residual_frame(
    emb: DataFrame, cents: dict[int, list[float]] | None = None
) -> DataFrame:
    """(vec_id, label, cell, embedding): each vector replaced by its
    IVF residual v − centroid(cell).  The centroid components fold into
    the plan as literals (element_at over an N_CENTROIDS array per
    dimension), so this is a map-only narrow projection after the
    assignment — no join against a centroid table at encode time."""
    if cents is None:
        cents = _centroid_floats(emb)
    cids = sorted(cents)
    dim = len(next(iter(cents.values())))
    res_cols = []
    for i in range(dim):
        per_cell = F.array(*[F.lit(float(cents[c][i])) for c in cids])
        res_cols.append(
            F.col("embedding")[i].cast("double")
            - F.element_at(per_cell, F.col("cell") + 1)
        )
    return (
        ivf_assign(emb)
        .select("vec_id", "label", "cell")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "label", "cell", F.array(*res_cols).alias("embedding"))
    )


def pq_train_residual(
    emb: DataFrame, cents: dict[int, list[float]] | None = None
) -> dict[tuple[int, int], list[float]]:
    """PQ codebook trained on the residuals (FAISS IVFPQ recipe).  The
    seed starts at vec_id = N_CENTROIDS: vectors 0..N_CENTROIDS−1 ARE
    the centroids, so their residuals are identically zero — seeding
    there would collapse every subspace to one code."""
    from dronedb_spark.vectors.ivf import N_CENTROIDS

    return pq_train(residual_frame(emb, cents), seed_from=N_CENTROIDS)


def ivfpq_residual_search(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    codebook: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """Top-k by residual-PQ ADC over the NPROBE probed cells: candidates
    encode their residuals through the literal-folded two-stage path,
    and the query carries one integer LUT per probed cell (its residual
    against THAT cell's centroid) selected by a CASE on the candidate's
    cell — the FAISS IVFPQ scoring shape."""
    cents = _centroid_floats(emb)
    if codebook is None:
        codebook = pq_train_residual(emb, cents)
    cells = probe_cells_for(emb, query_vec_id)
    q = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    q_emb = [float(v) for v in q[0]["embedding"]]
    cand = residual_frame(emb, cents).filter(
        F.col("cell").isin(cells) & (F.col("vec_id") != query_vec_id)
    )
    s1 = _dot_stage(cand, codebook, ["vec_id", "label", "cell"])
    per_cell_score = {}
    for cell in cells:
        q_res = [a - b for a, b in zip(q_emb, cents[cell])]
        terms = []
        for m in range(M):
            qs = q_res[m * SUBDIM : (m + 1) * SUBDIM]
            lut = []
            for j in range(K):
                c = codebook.get((m, j))
                if c is None:
                    lut.append(None)
                    continue
                d2 = _fold_dot(qs, qs) - 2.0 * _fold_dot(qs, c) + _fold_dot(c, c)
                lut.append(_micro_half_up(d2))
            arr = F.array(
                *[
                    F.lit(v) if v is not None else F.lit(None).cast("bigint")
                    for v in lut
                ]
            )
            terms.append(F.element_at(arr, _code_from_dots(m, codebook) + 1))
        score = terms[0]
        for t in terms[1:]:
            score = score + t
        per_cell_score[cell] = score
    scored = F.when(F.col("cell") == cells[0], per_cell_score[cells[0]])
    for cell in cells[1:]:
        scored = scored.when(F.col("cell") == cell, per_cell_score[cell])
    return (
        s1.select("vec_id", "label", "cell", scored.cast("bigint").alias("adc_micro"))
        .orderBy("adc_micro", "vec_id")
        .limit(k)
    )


# ---------------------------------------------------------------- check

_IVFPQ_ORACLE = f"""
    WITH {_D_ASSIGN},
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT c.cid AS cell
        FROM c CROSS JOIN q
        ORDER BY {_d_packed(_D_DOT.format(a='c.c_emb', b='q.q_emb')
                            + ' / (' + _D_NORM.format(v='c.c_emb')
                            + ' * ' + _D_NORM.format(v='q.q_emb') + ')', 'c.cid')}
        LIMIT {NPROBE}),
    subs AS ({_D_SUBS}),
    pc0 AS (SELECT m, CAST(vec_id AS INT) AS j, sub AS c_sub
            FROM subs WHERE vec_id < {K}),
    pa1 AS ({_d_assign('pc0')}),
    pc1 AS ({_d_update('pa1')}),
    pa2 AS ({_d_assign('pc1')}),
    pc2 AS ({_d_update('pa2')}),
    pa3 AS ({_d_assign('pc2')}),
    lut AS (
        SELECT s.m, cb.j,
               CAST(ROUND((list_dot_product(s.sub, s.sub)
                           - 2.0 * list_dot_product(s.sub, cb.c_sub)
                           + list_dot_product(cb.c_sub, cb.c_sub)) * 1000000.0)
                    AS BIGINT) AS micro
        FROM subs s JOIN pc2 cb ON cb.m = s.m
        WHERE s.vec_id = 0),
    scores AS (
        SELECT a.vec_id, SUM(l.micro) AS adc_micro
        FROM pa3 a JOIN lut l ON l.m = a.m AND l.j = a.code
        GROUP BY a.vec_id)
    SELECT s.vec_id, e.label, asg.cell, CAST(s.adc_micro AS BIGINT) AS adc_micro
    FROM scores s
    JOIN assign asg ON asg.vec_id = s.vec_id
    JOIN embeddings e ON e.vec_id = s.vec_id
    WHERE asg.cell IN (SELECT cell FROM probe) AND s.vec_id <> 0
    ORDER BY s.adc_micro, s.vec_id LIMIT 10
"""

_Q_CACHE: dict[tuple[str, str], DataFrame] = {}


@check("ivfpq_adc_top10", small=True, oracle=_IVFPQ_ORACLE)
def q_ivfpq_adc_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index end-to-end: IVF probe prunes to NPROBE cells,
    PQ ADC rescores only those candidates; the oracle restates the whole
    composition.  Plan cached per (session, dataset) like the PQ row —
    a service plans the query template once."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _Q_CACHE.get(key)
    if df is None:
        emb = load(spark, sf_dir, "embeddings")
        df = ivfpq_adc_search(
            emb, query_vec_id=0, k=10, codebook=codebook_for(spark, sf_dir)
        )
        _Q_CACHE[key] = df
    return df


def ivfpq_adc_rerank(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    rerank: int = 50,
    codebook: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """The full FAISS serving pattern: ADC shortlists ``rerank``
    candidates from the probed cells (compressed scoring, no floats),
    then ONLY those re-score with the exact squared L2 distance against
    the raw vectors (a ``rerank``-row join — the float read is bounded
    by the shortlist, never the corpus).  Output is the exact top-k of
    the shortlist, integer-micro quantized for engine parity."""
    if codebook is None:
        codebook = pq_train(emb)
    q = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    q_emb = [float(v) for v in q[0]["embedding"]]
    shortlist = ivfpq_adc_search(emb, query_vec_id, rerank, codebook).select(
        "vec_id", "label", "cell"
    )
    cand = shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
    dim = len(q_emb)
    t0 = F.col("embedding")[0].cast("double") - F.lit(q_emb[0])
    acc = t0 * t0
    for i in range(1, dim):
        ti = F.col("embedding")[i].cast("double") - F.lit(q_emb[i])
        acc = acc + ti * ti
    return (
        cand.select(
            "vec_id",
            "label",
            "cell",
            F.round(acc * F.lit(1000000.0)).cast("bigint").alias("l2_micro"),
        )
        .orderBy("l2_micro", "vec_id")
        .limit(k)
    )


_IVFPQ_RERANK_ORACLE = f"""
    WITH {_D_ASSIGN},
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT c.cid AS cell
        FROM c CROSS JOIN q
        ORDER BY {_d_packed(_D_DOT.format(a='c.c_emb', b='q.q_emb')
                            + ' / (' + _D_NORM.format(v='c.c_emb')
                            + ' * ' + _D_NORM.format(v='q.q_emb') + ')', 'c.cid')}
        LIMIT {NPROBE}),
    subs AS ({_D_SUBS}),
    pc0 AS (SELECT m, CAST(vec_id AS INT) AS j, sub AS c_sub
            FROM subs WHERE vec_id < {K}),
    pa1 AS ({_d_assign('pc0')}),
    pc1 AS ({_d_update('pa1')}),
    pa2 AS ({_d_assign('pc1')}),
    pc2 AS ({_d_update('pa2')}),
    pa3 AS ({_d_assign('pc2')}),
    lut AS (
        SELECT s.m, cb.j,
               CAST(ROUND((list_dot_product(s.sub, s.sub)
                           - 2.0 * list_dot_product(s.sub, cb.c_sub)
                           + list_dot_product(cb.c_sub, cb.c_sub)) * 1000000.0)
                    AS BIGINT) AS micro
        FROM subs s JOIN pc2 cb ON cb.m = s.m
        WHERE s.vec_id = 0),
    scores AS (
        SELECT a.vec_id, SUM(l.micro) AS adc_micro
        FROM pa3 a JOIN lut l ON l.m = a.m AND l.j = a.code
        GROUP BY a.vec_id),
    shortlist AS (
        SELECT s.vec_id
        FROM scores s
        JOIN assign asg ON asg.vec_id = s.vec_id
        WHERE asg.cell IN (SELECT cell FROM probe) AND s.vec_id <> 0
        ORDER BY s.adc_micro, s.vec_id LIMIT 50),
    exact AS (
        SELECT sl.vec_id, e.label, asg.cell,
               CAST(ROUND(list_dot_product(
                   list_transform(list_zip(CAST(e.embedding AS DOUBLE[]),
                                           CAST(q.q_emb AS DOUBLE[])),
                                  p -> p[1] - p[2]),
                   list_transform(list_zip(CAST(e.embedding AS DOUBLE[]),
                                           CAST(q.q_emb AS DOUBLE[])),
                                  p -> p[1] - p[2])) * 1000000.0) AS BIGINT)
                   AS l2_micro
        FROM shortlist sl
        JOIN embeddings e ON e.vec_id = sl.vec_id
        JOIN assign asg ON asg.vec_id = sl.vec_id
        CROSS JOIN q)
    SELECT vec_id, label, cell, l2_micro
    FROM exact ORDER BY l2_micro, vec_id LIMIT 10
"""

_RR_CACHE: dict[tuple[str, str], DataFrame] = {}


@check("ivfpq_rerank_top10", small=True, oracle=_IVFPQ_RERANK_ORACLE)
def q_ivfpq_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist (top-50 compressed scores in the probed cells) →
    exact L2 rerank of the shortlist only → top-10.  The oracle
    restates the whole chain; exact distances must agree to the micro
    because the d² fold association matches list_dot_product."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _RR_CACHE.get(key)
    if df is None:
        emb = load(spark, sf_dir, "embeddings")
        df = ivfpq_adc_rerank(
            emb, query_vec_id=0, k=10, rerank=50,
            codebook=codebook_for(spark, sf_dir),
        )
        _RR_CACHE[key] = df
    return df


# ------------------------------------------- residual check + oracle --

_IVFPQ_RES_ORACLE = f"""
    WITH {_D_ASSIGN},
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT c.cid AS cell
        FROM c CROSS JOIN q
        ORDER BY {_d_packed(_D_DOT.format(a='c.c_emb', b='q.q_emb')
                            + ' / (' + _D_NORM.format(v='c.c_emb')
                            + ' * ' + _D_NORM.format(v='q.q_emb') + ')', 'c.cid')}
        LIMIT {NPROBE}),
    remb AS (
        SELECT e.vec_id,
               list_transform(list_zip(CAST(e.embedding AS DOUBLE[]),
                                       CAST(c.c_emb AS DOUBLE[])),
                              p -> p[1] - p[2]) AS r
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN c ON c.cid = a.cell),
    subs AS (
        SELECT vec_id, m.m AS m, r[m.m * {SUBDIM} + 1 : m.m * {SUBDIM} + {SUBDIM}] AS sub
        FROM remb, (SELECT unnest(range(0, {M})) AS m) m),
    pc0 AS (SELECT m, CAST(vec_id - {N_CENTROIDS} AS INT) AS j, sub AS c_sub
            FROM subs WHERE vec_id >= {N_CENTROIDS}
                       AND vec_id < {N_CENTROIDS + K}),
    pa1 AS ({_d_assign('pc0')}),
    pc1 AS ({_d_update('pa1')}),
    pa2 AS ({_d_assign('pc1')}),
    pc2 AS ({_d_update('pa2')}),
    pa3 AS ({_d_assign('pc2')}),
    qres AS (
        SELECT c.cid AS cell,
               list_transform(list_zip(CAST(q.q_emb AS DOUBLE[]),
                                       CAST(c.c_emb AS DOUBLE[])),
                              p -> p[1] - p[2]) AS r
        FROM c CROSS JOIN q
        WHERE c.cid IN (SELECT cell FROM probe)),
    qsubs AS (
        SELECT cell, m.m AS m, r[m.m * {SUBDIM} + 1 : m.m * {SUBDIM} + {SUBDIM}] AS sub
        FROM qres, (SELECT unnest(range(0, {M})) AS m) m),
    lut AS (
        SELECT qs.cell, qs.m, cb.j,
               CAST(ROUND((list_dot_product(qs.sub, qs.sub)
                           - 2.0 * list_dot_product(qs.sub, cb.c_sub)
                           + list_dot_product(cb.c_sub, cb.c_sub)) * 1000000.0)
                    AS BIGINT) AS micro
        FROM qsubs qs JOIN pc2 cb ON cb.m = qs.m),
    scores AS (
        SELECT a.vec_id, SUM(l.micro) AS adc_micro
        FROM pa3 a
        JOIN assign asg ON asg.vec_id = a.vec_id
        JOIN lut l ON l.m = a.m AND l.j = a.code AND l.cell = asg.cell
        WHERE a.vec_id <> 0
        GROUP BY a.vec_id)
    SELECT s.vec_id, e.label, asg.cell, CAST(s.adc_micro AS BIGINT) AS adc_micro
    FROM scores s
    JOIN assign asg ON asg.vec_id = s.vec_id
    JOIN embeddings e ON e.vec_id = s.vec_id
    ORDER BY s.adc_micro, s.vec_id LIMIT 10
"""

_RCB_CACHE: dict[tuple[str, str], dict[tuple[int, int], list[float]]] = {}
_RQ_CACHE: dict[tuple[str, str], DataFrame] = {}


def residual_codebook_for(
    spark: SparkSession, sf_dir: str
) -> dict[tuple[int, int], list[float]]:
    key = (spark.sparkContext.applicationId, sf_dir)
    cb = _RCB_CACHE.get(key)
    if cb is None:
        cb = pq_train_residual(load(spark, sf_dir, "embeddings"))
        _RCB_CACHE[key] = cb
    return cb


@check("ivfpq_residual_top10", small=True, oracle=_IVFPQ_RES_ORACLE)
def q_ivfpq_residual_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS-recipe residual index end-to-end: IVF probe prunes to
    NPROBE cells, residual-trained PQ codes rescore with the query's
    per-cell LUTs.  The oracle restates residual construction, the
    offset-seeded Lloyd iterations, per-cell query LUTs, and the
    integer top-k.  Plan cached per (session, dataset) like the global
    row."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _RQ_CACHE.get(key)
    if df is None:
        emb = load(spark, sf_dir, "embeddings")
        df = ivfpq_residual_search(
            emb, query_vec_id=0, k=10, codebook=residual_codebook_for(spark, sf_dir)
        )
        _RQ_CACHE[key] = df
    return df


# ------------------------------------------------- persisted store --


def write_ivfpq_store(
    emb: DataFrame, path: str,
    codebook: dict[tuple[int, int], list[float]] | None = None,
) -> dict[tuple[int, int], list[float]]:
    """Persist the COMPLETE serving index: (vec_id, label, code_0..3)
    partitioned by IVF cell.  This is the production 100 TB layout —
    the raw embeddings are NOT stored (16× smaller: 4 int codes per
    vector), the cell directory is the partition-pruning key, and the
    codebook (the only float state, M*K rows) returns to the caller to
    live beside the index.  Ingest cost is one assignment pass + one
    encode pass, both map-only after the broadcast argmin."""
    if codebook is None:
        codebook = pq_train(emb)
    from dronedb_spark.vectors.pq import pq_encode

    codes = pq_encode(emb, codebook)
    (
        ivf_assign(emb)
        .join(codes, "vec_id")
        # one file per cell directory, not one per (task × cell): the
        # join's output partitioning is vec_id-hashed, so every write
        # task would otherwise open a file in every cell it touches
        # (the ann/semdedup/postings store discipline, guide §6)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    return codebook


def ivfpq_probe_store(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    codebook: dict[tuple[int, int], list[float]] | None = None,
) -> DataFrame:
    """Top-k ADC against the persisted index: rank centroids against the
    query (NPROBE scalars), read ONLY those cells' partitions, score the
    STORED CODES with the query LUT — no embedding floats are read at
    all (the store has none).  Must return exactly what the in-memory
    ``ivfpq_adc_search`` returns on the same corpus + codebook
    (tests/test_plans.py pins result equality AND the PartitionFilters
    pruning predicate)."""
    if codebook is None:
        codebook = pq_train(emb)
    cells = probe_cells_for(emb, query_vec_id)
    q = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    q_emb = [float(v) for v in q[0]["embedding"]]
    store = spark.read.parquet(path).filter(
        F.col("cell").isin(cells) & (F.col("vec_id") != query_vec_id)
    )
    terms = []
    for m in range(M):
        qs = q_emb[m * SUBDIM : (m + 1) * SUBDIM]
        lut = []
        for j in range(K):
            c = codebook.get((m, j))
            if c is None:
                lut.append(None)
                continue
            d2 = _fold_dot(qs, qs) - 2.0 * _fold_dot(qs, c) + _fold_dot(c, c)
            lut.append(_micro_half_up(d2))
        arr = F.array(
            *[F.lit(v) if v is not None else F.lit(None).cast("bigint") for v in lut]
        )
        terms.append(F.element_at(arr, F.col(f"code_{m}") + 1))
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return (
        store.select(
            "vec_id", "label", F.col("cell").cast("int").alias("cell"),
            score.cast("bigint").alias("adc_micro"),
        )
        .orderBy("adc_micro", "vec_id")
        .limit(k)
    )


def write_ivfpq_residual_store(
    emb: DataFrame, path: str,
    codebook: dict[tuple[int, int], list[float]] | None = None,
    cents: dict[int, list[float]] | None = None,
) -> dict[tuple[int, int], list[float]]:
    """The residual-recipe serving index: same cell-partitioned
    codes-only layout as ``write_ivfpq_store``, but the stored codes
    quantize v − centroid(cell) — the index artifact beside it is the
    residual codebook + the N_CENTROIDS centroid vectors."""
    from dronedb_spark.vectors.pq import pq_encode

    if cents is None:
        cents = _centroid_floats(emb)
    if codebook is None:
        codebook = pq_train_residual(emb, cents)
    res = residual_frame(emb, cents)
    codes = pq_encode(res.select("vec_id", "embedding"), codebook)
    (
        res.select("vec_id", "label", "cell")
        .join(codes, "vec_id")
        # one file per cell directory (see write_ivfpq_store)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(path)
    )
    return codebook


def ivfpq_residual_probe_store(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    codebook: dict[tuple[int, int], list[float]] | None = None,
    cents: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Top-k residual ADC against the persisted index: read ONLY the
    NPROBE probed cells' partitions, score the STORED residual codes
    with the query's per-cell LUT (selected by the partition's cell
    value) — no embedding floats read.  Must return exactly what the
    in-memory ``ivfpq_residual_search`` returns on the same corpus +
    codebook."""
    if cents is None:
        cents = _centroid_floats(emb)
    if codebook is None:
        codebook = pq_train_residual(emb, cents)
    cells = probe_cells_for(emb, query_vec_id)
    q = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    q_emb = [float(v) for v in q[0]["embedding"]]
    store = spark.read.parquet(path).filter(
        F.col("cell").isin(cells) & (F.col("vec_id") != query_vec_id)
    )
    per_cell_score = {}
    for cell in cells:
        q_res = [a - b for a, b in zip(q_emb, cents[cell])]
        terms = []
        for m in range(M):
            qs = q_res[m * SUBDIM : (m + 1) * SUBDIM]
            lut = []
            for j in range(K):
                c = codebook.get((m, j))
                if c is None:
                    lut.append(None)
                    continue
                d2 = _fold_dot(qs, qs) - 2.0 * _fold_dot(qs, c) + _fold_dot(c, c)
                lut.append(_micro_half_up(d2))
            arr = F.array(
                *[
                    F.lit(v) if v is not None else F.lit(None).cast("bigint")
                    for v in lut
                ]
            )
            terms.append(F.element_at(arr, F.col(f"code_{m}") + 1))
        score = terms[0]
        for t in terms[1:]:
            score = score + t
        per_cell_score[cell] = score
    scored = F.when(F.col("cell") == cells[0], per_cell_score[cells[0]])
    for cell in cells[1:]:
        scored = scored.when(F.col("cell") == cell, per_cell_score[cell])
    return (
        store.select(
            "vec_id", "label", F.col("cell").cast("int").alias("cell"),
            scored.cast("bigint").alias("adc_micro"),
        )
        .orderBy("adc_micro", "vec_id")
        .limit(k)
    )


@check("ivfpq_residual_store_probe", oracle=_IVFPQ_RES_ORACLE)
def q_ivfpq_residual_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual SERVING path: write the cell-partitioned residual
    code store to a scratch dir, probe it (partition pruning +
    stored-code per-cell LUTs), collect inside the check — must
    hash-match the in-memory residual search's oracle."""
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cents = _centroid_floats(emb)
    cb = residual_codebook_for(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ivfpq_res_store_")
    try:
        path = tmp + "/store"
        write_ivfpq_residual_store(emb, path, codebook=cb, cents=cents)
        rows = [
            (int(r["vec_id"]), int(r["label"]), int(r["cell"]), int(r["adc_micro"]))
            for r in ivfpq_residual_probe_store(
                spark, path, emb, query_vec_id=0, k=10, codebook=cb, cents=cents
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, cell int, adc_micro bigint"
    )


@check("ivfpq_store_probe", oracle=_IVFPQ_ORACLE)
def q_ivfpq_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING path against the persisted index: write the
    cell-partitioned code store to a scratch dir, probe it (partition
    pruning + stored-code ADC, no embedding floats read), and return
    the collected top-10 — which must hash-match the same oracle as the
    in-memory search (the store is a layout, not a semantic change).
    Scratch-dir discipline: collect INSIDE the check, return plain
    rows."""
    import shutil
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cb = codebook_for(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="ivfpq_store_")
    try:
        path = tmp + "/store"
        write_ivfpq_store(emb, path, codebook=cb)
        rows = [
            (int(r["vec_id"]), int(r["label"]), int(r["cell"]), int(r["adc_micro"]))
            for r in ivfpq_probe_store(
                spark, path, emb, query_vec_id=0, k=10, codebook=cb
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, cell int, adc_micro bigint"
    )
