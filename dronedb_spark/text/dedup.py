"""Deduplication operators: exact (hash-groupBy) and MinHash+LSH near-dup.

Scale design (the core of a training-data pipeline at 100 TB):
  * exact dedup: one shuffle on md5(text) — map-side partial counts keep
    the shuffle narrow.
  * MinHash: per-doc signature is a pure column expression (shingle →
    per-hash-function min) — no shuffle at all, no Python.
  * LSH: signatures are banded; candidate pairs come from a self-join on
    (band_id, band_key) — i.e. only documents sharing a band bucket are
    compared, never the O(n²) cross product.  The band join shuffles on the
    band key; bucket skew (a degenerate all-equal corpus) is handled by
    AQE skew-join splitting.

Portable hashing: h_j(shingle) = md5(j || ':' || shingle), minimum taken
lexicographically — identical in any engine with md5, which is what lets
the DuckDB oracle verify the exact signature values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.tokens import tokens

N_HASHES = 6
BANDS = 2  # 2 bands × 3 rows


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the sorted id list so
    a `keep-first` policy is a cheap post-step."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
            F.array_join(F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ",").alias(
                "doc_ids"
            ),
        )
        .filter(F.col("n_dups") > 1)
    )


def _shingles_from_toks(
    toks_df: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, sh) from an already-tokenized (doc_id, *carry,
    toks) frame — the shared lower half of ``_shingle_df``, split out
    (r14) so a caller that tokenizes once for several gram families
    (decontamreport's n-gram + containment channels) can reuse the
    token arrays."""
    sh = F.expr(
        """CASE WHEN size(toks) >= 3
                THEN zip_with(
                       zip_with(slice(toks, 1, size(toks) - 2),
                                slice(toks, 2, size(toks) - 2),
                                (x, y) -> concat(x, ' ', y)),
                       slice(toks, 3, size(toks) - 2),
                       (x, y) -> concat(x, ' ', y))
                ELSE array() END"""
    )
    return toks_df.select("doc_id", *carry, sh.alias("sh"))


def _shingle_df(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, sh: array<string>) — word 3-grams; ``carry``
    columns (e.g. a stream's event-time) pass through untouched.

    Built with ``zip_with`` over three shifted ``slice``s so the token
    array is referenced only as TOP-LEVEL arguments (evaluated once per
    row).  The naive ``transform(sequence(...), i -> toks[i] ...)`` form
    indexes ``toks`` inside the lambda — and after Catalyst's projection
    collapse inlines ``toks = split(text)``, the text gets re-split per
    array ELEMENT (and higher-order lambdas are outside common
    subexpression elimination): measured 20-30× slower, worse still when
    the expression lands in an interpreted (non-codegen) operator.
    """
    return _shingles_from_toks(
        docs.select("doc_id", *carry, tokens("text").alias("toks")),
        carry,
    )


def minhash_signatures(
    docs: DataFrame, *, streaming: bool = False, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-doc MinHash signature + LSH band keys.

    The shingle array is MATERIALIZED before the k per-hash-function
    minima are taken.  Without the barrier Catalyst's projection collapse
    re-inlines the shingle-building expression into every one of the k
    ``array_min(transform(...))`` columns (higher-order lambdas are outside
    common-subexpression elimination), re-tokenizing each document k×3
    times — measured 20-30× slower.  With it, each signature is one fast
    vectorized pass over a materialized array; blocks spill
    MEMORY_AND_DISK so an out-of-core corpus never OOMs, and the same
    columnar cache serves both sides of the LSH self-join downstream.
    ``barrier_persist`` (tables.py) instead of a bare ``persist``: the
    same InMemoryRelation, but held in a bounded keyed LRU whose
    eviction unpersists — repeated calls in a long-running service
    cannot accumulate executor storage, and identical re-runs reuse
    the cache instead of re-shingling."""
    from dronedb_spark.tables import barrier_persist, spread

    sh = _shingle_df(docs, carry).filter(F.size("sh") > 0)
    if streaming:
        # streaming frames admit neither persist nor .rdd-based width
        # probes; microbatches are small enough that the HOF-recompute
        # the barrier exists to prevent stays tolerable per trigger
        sh_df = sh
    else:
        sh_df = barrier_persist(spread(sh))

    def hasher(j: int):
        # NB: a single-parameter lambda — PySpark passes (element, index) to
        # two-parameter lambdas, which would corrupt the closure.
        prefix = f"{j}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sig = [
        F.array_min(F.transform(F.col("sh"), hasher(j))).alias(f"mh{j}") for j in range(N_HASHES)
    ]
    df = sh_df.select("doc_id", *carry, *sig)
    bands = [
        F.md5(F.concat(*[F.col(f"mh{j}") for j in range(b * 3, b * 3 + 3)])).alias(f"band{b}")
        for b in range(BANDS)
    ]
    return df.select(
        "doc_id", *carry, *[F.col(f"mh{j}") for j in range(N_HASHES)], *bands
    )


def neardup_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs: documents sharing any band bucket.

    Bands are melted to (doc_id, band_id, key) rows, grouped by bucket,
    and pairs are generated INSIDE each bucket from the collected id
    list — the signatures (12 md5 folds over the shingle arrays, the
    expensive part) are computed exactly once, and the whole operator is
    one shuffle on the bucket key plus the final pair-dedup.  A self-join
    formulation would recompute the signature subtree per side (Catalyst
    has no common-subplan materialization across join inputs) — measured
    ~7x slower at sf0.1.  Pair generation is O(k²) per bucket in any
    strategy; LSH banding keeps k small, and a pathological hot bucket
    (thousands of identical docs) should be exact-dedup'd first
    (exact_dup_groups) as a real pipeline does."""
    sig = minhash_signatures(docs)
    melted = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bk"))
                    for b in range(BANDS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.band_id").alias("band_id"), F.col("s.bk").alias("bk"))
    buckets = (
        melted.groupBy("band_id", "bk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    """flatten(transform(ids, (x, i) ->
                           transform(slice(ids, i + 2, size(ids)),
                                     y -> struct(x AS doc_a, y AS doc_b))))"""
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


# ---------------------------------------------------------------- checks

# DuckDB lists are 1-indexed; everything else mirrors the Spark build.
# The split is HOISTED to a column (``w``) before the lambda indexes it —
# DuckDB re-evaluates expressions written inline in a lambda per element,
# which turns shingling O(len²) per doc.
_DUCK_SHINGLES = """
    list_transform(range(1, greatest(len(w) - 1, 1)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
"""

_DUCK_WORDS = "SELECT doc_id, string_split(text, ' ') AS w FROM documents"


def _duck_mh(j: int) -> str:
    return f"list_min(list_transform(sh, s -> md5('{j}:' || s))) AS mh{j}"


_DUCK_SIG = f"""
    SELECT doc_id, {", ".join(_duck_mh(j) for j in range(N_HASHES))}
    FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({_DUCK_WORDS}) words) t
    WHERE len(sh) > 0
"""

_DUCK_SIG_BANDS = f"""
    SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5,
           md5(mh0 || mh1 || mh2) AS band0, md5(mh3 || mh4 || mh5) AS band1
    FROM ({_DUCK_SIG}) s
"""


# The synthetic corpus has no duplicate texts, so running the operator on
# ``documents`` alone returns 0 rows on both engines (vacuous in round 1).
# Check it over documents ∪ a re-keyed subset — same construction in the
# oracle — so real duplicate groups exist and the grouping is exercised.
_DUP_MOD, _DUP_OFFSET = 7, 1000000


@check(
    "dedup_exact_groups",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
            FROM documents WHERE doc_id % 10 = {_DUP_MOD})
        SELECT md5(text) AS content_hash,
               CAST(COUNT(1) AS BIGINT) AS n_dups,
               MIN(doc_id) AS keep_id,
               string_agg(CAST(doc_id AS STRING), ',' ORDER BY CAST(doc_id AS STRING)) AS doc_ids
        FROM corpus GROUP BY md5(text) HAVING COUNT(1) > 1""",
)
def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    rekeyed = docs.filter(F.col("doc_id") % 10 == _DUP_MOD).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_DUP_OFFSET)
    )
    return exact_dup_groups(docs.unionByName(rekeyed))


@check("dedup_minhash_signatures", oracle=_DUCK_SIG_BANDS)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


@check(
    "dedup_neardup_pairs",
    oracle=f"""
        WITH sig AS ({_DUCK_SIG_BANDS})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id""",
)
def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_pairs(load(spark, sf_dir, "documents"))


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """N-gram Jaccard similarity, computed ONLY for LSH candidate pairs
    (never the O(n²) cross product): |A∩B| via a shingle equi-join,
    |A∪B| = |A|+|B|−|A∩B|.  The candidate set is tiny relative to the
    corpus, so the shingle join broadcasts the candidate side."""
    pairs = neardup_pairs(docs)
    # Distinct shingles per doc as ONE set-valued row (a per-doc set is
    # bounded by doc length, like the signature itself), so intersection
    # size is a scalar array_intersect per pair — two narrow joins against
    # the small candidate set instead of re-exploding every shingle of
    # every candidate doc through a 3-way join.
    sets = (
        _shingle_df(docs)
        .select("doc_id", F.explode("sh").alias("s"))
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
    )
    j = (
        pairs.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b")), "doc_b")
    )
    n_inter = F.size(F.array_intersect(F.col("ss_a"), F.col("ss_b"))).cast("bigint")
    return j.select(
        "doc_a",
        "doc_b",
        n_inter.alias("n_inter"),
        (n_inter / (F.size("ss_a") + F.size("ss_b") - n_inter)).alias("jaccard"),
    )


@check(
    "dedup_jaccard_pairs",
    oracle=f"""
        WITH sig AS ({_DUCK_SIG_BANDS}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s
               FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({_DUCK_WORDS}) words) t),
        sizes AS (SELECT doc_id, COUNT(1) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(1) AS n_inter
            FROM pairs p
            JOIN sh sa ON sa.doc_id = p.doc_a
            JOIN sh sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
            GROUP BY p.doc_a, p.doc_b)
        SELECT p.doc_a, p.doc_b,
               CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
               COALESCE(i.n_inter, 0) / (za.n + zb.n - COALESCE(i.n_inter, 0)) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sizes za ON za.doc_id = p.doc_a
        JOIN sizes zb ON zb.doc_id = p.doc_b""",
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load(spark, sf_dir, "documents"))


# ------------------------------------------------------------- clustering
# Pair lists aren't actionable for dedup — the pipeline needs CLUSTER IDs
# (keep one doc per component).  Components come from min-label
# propagation over the LSH pair graph: every node repeatedly adopts the
# minimum label among itself and its neighbors — O(diameter) rounds, one
# shuffle per round.  LSH components are near-cliques (in-bucket pair
# generation), so the diameter is tiny; each round is localCheckpoint-ed
# (tiny node table) to keep lineage linear.  At petabyte scale the same
# loop runs with the alternating-star optimization; the round structure
# is identical.


def connected_components(edges: DataFrame, a: str = "doc_a", b: str = "doc_b",
                         max_rounds: int = 64) -> DataFrame:
    """(node, label): min-id connected components with POINTER DOUBLING.

    Plain min-label propagation needs O(diameter) rounds — a chain of
    gradually-mutated near-duplicates D hops long was silently left
    UNCONVERGED by the old 6-round cap (wrong labels, no error).  Each
    round here does (1) the neighbor-min step and (2) a shortcut step
    ``label ← label(label)`` — the parallel pointer-jumping trick — so
    convergence is O(log n) rounds regardless of chain shape; the loop
    runs to an exact fixpoint (``max_rounds`` = 64 is a 2⁶⁴-node
    backstop, not a tuning knob)."""
    sym = edges.select(
        F.col(a).alias("node"), F.col(b).alias("peer")
    ).unionByName(edges.select(F.col(b).alias("node"), F.col(a).alias("peer")))
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))
    for _ in range(max_rounds):
        peer_labels = sym.join(
            labels.select(F.col("node").alias("peer"), F.col("label").alias("peer_label")),
            "peer",
        ).select("node", F.col("peer_label").alias("label"))
        l1 = (
            labels.select("node", "label")
            .unionByName(peer_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: follow the label's own label (labels are
        # node ids, so the mapping join always hits)
        hop = l1.select(F.col("node").alias("label"), F.col("label").alias("ll"))
        l2 = (
            l1.join(hop, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            l2.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = l2
        if changed == 0:
            break
    return labels


def neardup_clusters(docs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(doc_id, cluster_id): connected components of the near-dup pair
    graph; cluster_id = min doc_id in the component."""
    labels = connected_components(neardup_pairs(docs), max_rounds=max_rounds)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@check(
    "dedup_cluster_ids",
    oracle=f"""
        WITH RECURSIVE sig AS ({_DUCK_SIG_BANDS}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sym AS (SELECT doc_a AS node, doc_b AS peer FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(node, label) AS (
            SELECT node, node FROM (SELECT DISTINCT node FROM sym) s
            UNION
            SELECT s.node, r.label FROM sym s JOIN reach r ON r.node = s.peer)
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node ORDER BY doc_id""",
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_clusters(load(spark, sf_dir, "documents")).orderBy("doc_id")


# ------------------------------------------------- incremental dedup --


def _melt_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, bk) from a signature table."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bk"))
                    for b in range(BANDS)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.band_id").alias("band_id"), F.col("s.bk").alias("bk"))


def band_store(docs: DataFrame) -> DataFrame:
    """The persisted corpus signature store: (doc_id, band_id, bk) rows
    — what a production pipeline writes once per ingested batch and
    keeps bucketed by ``bk`` on disk, so tomorrow's probe join needs no
    corpus-side shuffle (and never recomputes corpus signatures)."""
    return _melt_bands(minhash_signatures(docs))


def _probe_band_store(
    probe: DataFrame, ids: DataFrame, store: DataFrame
) -> DataFrame:
    """The band-bucket probe join + per-doc rollup shared by
    ``incremental_neardup`` and the check's shared-signature path:
    ``probe`` is (batch_doc, band_id, bk), ``ids`` is the full batch id
    list (batch_doc — including docs too short to signature), ``store``
    is (doc_id, band_id, bk)."""
    hits = probe.join(store, ["band_id", "bk"])
    per_doc = hits.groupBy("batch_doc").agg(
        F.countDistinct("doc_id").alias("n_corpus_hits"),
        F.countDistinct("band_id").alias("n_hit_bands"),
        F.min("doc_id").alias("dup_of"),
    )
    return ids.join(per_doc, "batch_doc", "left").select(
        F.col("batch_doc").alias("doc_id"),
        F.col("n_corpus_hits").isNotNull().alias("is_corpus_dup"),
        F.coalesce("n_corpus_hits", F.lit(0)).alias("n_corpus_hits"),
        F.coalesce("n_hit_bands", F.lit(0)).alias("n_hit_bands"),
        F.coalesce("dup_of", F.lit(-1)).alias("dup_of"),
    )


def incremental_neardup(batch: DataFrame, store: DataFrame) -> DataFrame:
    """Incremental near-dup: flag NEW documents that collide with the
    EXISTING corpus — the operation an ingestion pipeline actually runs
    daily (dedup 10M new docs against 10B indexed ones without touching
    the 10B).

    Scale shape: only the batch's signatures are computed; the store is
    probed with a band-bucket equi-join — batch-sized on one side,
    pre-bucketed corpus on the other, so the only data moved is the
    batch's band keys (broadcastable when the batch is small).  Returns
    one row per batch doc: hit count, distinct colliding bands, and the
    smallest colliding corpus doc as the canonical duplicate target."""
    probe = band_store(batch).withColumnRenamed("doc_id", "batch_doc")
    ids = batch.select(F.col("doc_id").alias("batch_doc")).distinct()
    return _probe_band_store(probe, ids, store)


_INC_OFFSET = 5000000


def _duck_sig_bands_for(src: str) -> str:
    """_DUCK_SIG_BANDS with the word source re-pointed at ``src``."""
    words = f"SELECT doc_id, string_split(text, ' ') AS w FROM {src}"
    sig = f"""
        SELECT doc_id, {", ".join(_duck_mh(j) for j in range(N_HASHES))}
        FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM ({words}) words) t
        WHERE len(sh) > 0"""
    return f"""
        SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5,
               md5(mh0 || mh1 || mh2) AS band0, md5(mh3 || mh4 || mh5) AS band1
        FROM ({sig}) s"""


def _inc_oracle() -> str:
    return f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        store_docs AS (SELECT doc_id, text FROM corpus WHERE doc_id % 3 <> 0),
        store_sig AS ({_duck_sig_bands_for("store_docs")}),
        batch_docs AS (
            SELECT doc_id, text FROM corpus WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id + {_INC_OFFSET} AS doc_id, text FROM corpus
            WHERE doc_id % 3 <> 0 AND doc_id % 11 = 1
        ),
        batch_sig AS ({_duck_sig_bands_for("batch_docs")}),
        store AS (
            SELECT doc_id, 0 AS band_id, band0 AS bk FROM store_sig
            UNION ALL SELECT doc_id, 1, band1 FROM store_sig),
        probe AS (
            SELECT doc_id AS batch_doc, 0 AS band_id, band0 AS bk FROM batch_sig
            UNION ALL SELECT doc_id, 1, band1 FROM batch_sig),
        hits AS (
            SELECT p.batch_doc, s.doc_id, p.band_id FROM probe p
            JOIN store s ON p.band_id = s.band_id AND p.bk = s.bk),
        per_doc AS (
            SELECT batch_doc, COUNT(DISTINCT doc_id) AS n_corpus_hits,
                   COUNT(DISTINCT band_id) AS n_hit_bands, MIN(doc_id) AS dup_of
            FROM hits GROUP BY batch_doc)
        SELECT b.doc_id,
               p.batch_doc IS NOT NULL AS is_corpus_dup,
               CAST(COALESCE(p.n_corpus_hits, 0) AS BIGINT) AS n_corpus_hits,
               CAST(COALESCE(p.n_hit_bands, 0) AS BIGINT) AS n_hit_bands,
               CAST(COALESCE(p.dup_of, -1) AS BIGINT) AS dup_of
        FROM (SELECT DISTINCT doc_id FROM batch_docs) b
        LEFT JOIN per_doc p ON b.doc_id = p.batch_doc
        ORDER BY b.doc_id"""


@check("incremental_dedup_probe", oracle=_inc_oracle())
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store = corpus docs with doc_id % 3 != 0; batch = the rest PLUS
    re-keyed copies of some store docs (doc_id % 11 == 1) so genuine
    corpus collisions exist — every copy must flag is_corpus_dup with
    its original as dup_of; the genuinely-new docs must not.

    r14 optimization (guide §2.4, materialize once): the old shape ran
    TWO independent signature pipelines (store 2/3 of the corpus, batch
    1/3 + copies) — together a full corpus pass split across two
    persists, with the re-keyed copies re-shingling text the store side
    had already hashed.  A MinHash signature is a pure function of the
    text, so ONE persisted signature table over the base corpus serves
    both sides: the store by id filter, the batch by id filter plus the
    re-keyed copies inheriting their original's signature row.  Results
    identical (oracle-checked); the probe join itself is unchanged."""
    from dronedb_spark.tables import barrier_persist, load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = barrier_persist(minhash_signatures(docs))
    store_sig = sig.filter(F.col("doc_id") % 3 != 0)
    batch_sig = sig.filter(F.col("doc_id") % 3 == 0).unionByName(
        store_sig.filter(F.col("doc_id") % 11 == 1).withColumn(
            "doc_id", F.col("doc_id") + _INC_OFFSET
        )
    )
    probe = _melt_bands(batch_sig).withColumnRenamed("doc_id", "batch_doc")
    ids = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("batch_doc"))
        .unionByName(
            docs.filter(
                (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 11 == 1)
            ).select((F.col("doc_id") + _INC_OFFSET).alias("batch_doc"))
        )
        .distinct()
    )
    return _probe_band_store(probe, ids, _melt_bands(store_sig)).orderBy(
        "doc_id"
    )


# ------------------------------------------------------------ calibration

_CAL_TAUS = (30, 50, 70)  # jaccard thresholds, in percent


def lsh_calibration(
    docs: DataFrame,
    taus: tuple[int, ...] = _CAL_TAUS,
    sample_fraction: float | None = None,
    max_df: int = 1000,
) -> DataFrame:
    """Confusion counts of the banded-MinHash candidate set against
    EXACT n-gram Jaccard ground truth, per threshold — "what recall is
    my LSH actually buying at this banding?", the question every 100 TB
    dedup run must answer before trusting its candidate join.

    Ground truth comes from the shingle equi-self-join (pairs sharing
    zero shingles have Jaccard 0 and never materialize), with the
    threshold test as the integer cross-multiplication
    ``n_inter·100 >= tau·n_union`` — no float crosses a decision
    boundary.  Per tau: true pairs, LSH candidates, hits (TP),
    spurious candidates (FP), and misses (FN).

    The truth join is quadratic in shingle document-frequency mass, so
    the operator ENFORCES its own bounds rather than documenting them:

    * ``max_df`` (default 1000) drops shingles present in more than
      that many docs from the truth universe — one boilerplate shingle
      shared by 10M docs would otherwise be a 10^14-pair bucket.
      Jaccard is then measured over the informative-shingle universe
      (sizes and intersections derive from the SAME capped set, so the
      ratio stays self-consistent) — the winnowing MAX_DF discipline
      (``winnow.py:37``).
    * ``sample_fraction`` (optional) calibrates on a deterministic
      md5-keyed uniform subsample of the docs (a few 10^4 suffice for
      a stable curve); both the truth side and the LSH candidate side
      see the same subsample, so the confusion counts stay coherent.
    """
    if sample_fraction is not None:
        if not 0.0 < sample_fraction <= 1.0:
            raise ValueError("sample_fraction must be in (0, 1]")
        # deterministic md5-keyed thinning (the PQ-training sampling
        # discipline): no RNG, stable across runs and partitionings
        docs = docs.filter(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("bigint")
            < F.lit(int(sample_fraction * 0xFFFFFF))
        )
    cand = neardup_pairs(docs).withColumn("is_cand", F.lit(1))
    sh_all = (
        _shingle_df(docs)
        .select("doc_id", F.explode("sh").alias("s"))
        .distinct()
    )
    # document-frequency cap: ONE window pass (COUNT OVER the shingle
    # partition) — no groupBy + semi-join re-evaluation of the shingle
    # subtree, and the partitioning pre-shuffles for the equi-self-join
    from dronedb_spark.tables import barrier_persist

    # r13: the capped relation feeds THREE subtrees (sizes + both join
    # sides) — materialize once instead of re-running the shingle
    # explode + df window per reference
    sh = barrier_persist(
        sh_all.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
        )
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", "n_inter", (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"))
    )
    base = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
        # a band collision with zero shared shingles (md5 fluke) still
        # needs a union size; 1 keeps the jaccard test well-defined at 0
        F.coalesce("n_union", F.lit(1)).alias("n_union"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    taued = base.crossJoin(
        F.broadcast(
            docs.sparkSession.createDataFrame([(t,) for t in taus], "tau_pct int")
        )
    ).withColumn(
        "is_true",
        (F.col("n_inter") * 100 >= F.col("tau_pct") * F.col("n_union")).cast("int"),
    )
    return taued.groupBy("tau_pct").agg(
        F.sum("is_true").cast("bigint").alias("n_true"),
        F.sum("is_cand").cast("bigint").alias("n_cand"),
        F.sum(F.col("is_true") * F.col("is_cand")).cast("bigint").alias("tp"),
        F.sum(F.col("is_cand") * (1 - F.col("is_true"))).cast("bigint").alias("fp"),
        F.sum(F.col("is_true") * (1 - F.col("is_cand"))).cast("bigint").alias("fn"),
    )


@check(
    "lsh_calibration",
    oracle=f"""
        WITH sig AS ({_DUCK_SIG_BANDS}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON (a.band0 = b.band0 OR a.band1 = b.band1) AND a.doc_id < b.doc_id),
        sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s
               FROM (SELECT doc_id, {{shingles}} AS sh
                     FROM ({{words}}) words) t),
        sizes AS (SELECT doc_id, COUNT(1) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        truth AS (
            SELECT i.doc_a, i.doc_b, i.n_inter,
                   za.n + zb.n - i.n_inter AS n_union
            FROM inter i
            JOIN sizes za ON za.doc_id = i.doc_a
            JOIN sizes zb ON zb.doc_id = i.doc_b),
        base AS (
            SELECT COALESCE(t.n_inter, 0) AS n_inter,
                   COALESCE(t.n_union, 1) AS n_union,
                   CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
            FROM truth t FULL OUTER JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        taus(tau_pct) AS (VALUES {", ".join(f"({t})" for t in _CAL_TAUS)}),
        taued AS (
            SELECT tau_pct,
                   CASE WHEN n_inter * 100 >= tau_pct * n_union
                        THEN 1 ELSE 0 END AS is_true,
                   is_cand
            FROM base CROSS JOIN taus)
        SELECT CAST(tau_pct AS INT) AS tau_pct,
               CAST(SUM(is_true) AS BIGINT) AS n_true,
               CAST(SUM(is_cand) AS BIGINT) AS n_cand,
               CAST(SUM(is_true * is_cand) AS BIGINT) AS tp,
               CAST(SUM(is_cand * (1 - is_true)) AS BIGINT) AS fp,
               CAST(SUM(is_true * (1 - is_cand)) AS BIGINT) AS fn
        FROM taued GROUP BY tau_pct ORDER BY tau_pct""".format(
        shingles=_DUCK_SHINGLES, words=_DUCK_WORDS
    ),
)
def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-MinHash recall/precision against exact Jaccard truth at
    tau = 30/50/70% — the banding's measured operating point."""
    return lsh_calibration(load(spark, sf_dir, "documents")).orderBy("tau_pct")
