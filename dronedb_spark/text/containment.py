"""Containment near-dup detection — the ASYMMETRIC similarity Jaccard
misses: an excerpt quoted inside a longer page has tiny Jaccard (the
union is dominated by the host) but containment
C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≈ 1, and training-data curation wants
exactly these subset/quote/excerpt relations (Broder 1997 defines both
resemblance AND containment; only resemblance gets most of the
attention).

Semantics: word 3-gram shingle sets (the ``text/dedup.py`` shingles),
distinct per document; shingles present in more than ``max_df``
documents are dropped BEFORE pairing (the ssjoin/LSH df-cap discipline
— boilerplate n-grams would otherwise pair everyone with everyone);
the denominator is the document's surviving shingle count, so the
score is fully determined by (corpus, max_df) — identical on both
engines.  Directed pairs with containment ≥ 80% emit as exact micros.

Fixture: every 10th document contributes an excerpt row (a middle
slice of its text, id-offset by 10^9) — the planted subset relations
the operator must find, amid the organic cross-doc noise.

Scale shape: one distinct-shingle aggregate, one broadcast-able df
filter, one shuffle on the shingle key for the pair join — the
inverted-index plan; the df cap bounds every posting list, so the
pair fan-out per shingle is ≤ max_df² regardless of corpus size.

Beyond the reference (no text pipeline there); siblings:
``jaccard_ssjoin_pairs`` (symmetric), ``substring_dup_spans`` (exact
spans), ``paragraph_dedup`` (block-level).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import barrier_persist, load
from dronedb_spark.text.dedup import _shingle_df

MAX_DF = 20
MIN_CONTAIN_MICRO = 800_000
EXCERPT_OFFSET = 1_000_000_000


def containment_pairs(
    docs: DataFrame,
    max_df: int = MAX_DF,
    min_contain_micro: int = MIN_CONTAIN_MICRO,
    dst_pred: str | None = None,
    toks_df: DataFrame | None = None,
) -> DataFrame:
    """(src_id, dst_id, n_common, n_src, containment_micro): directed
    pairs where ≥ min_contain of src's (df-capped) shingles appear in
    dst.

    Inverted-index plan, single corpus pass (r13 optimization): the
    distinct (doc_id, shingle) relation is materialized ONCE (the CSE
    barrier — the old ``kept ⋈ kept`` self-join re-tokenized the corpus
    three times, no exchange reuse), collapsed to per-shingle posting
    lists AFTER the df cap (arrays provably ≤ max_df — a hot shingle
    never materializes a list), and the directed pairs explode IN-ROW
    from each list.  ``n_src`` rides along as the self-pair (x, x)
    count — every kept shingle contributes exactly one self-pair per
    member — resolved by a window over src_id instead of a sizes join.

    ``dst_pred`` (SQL boolean over the lambda variable ``y``) optionally
    restricts the dst side INSIDE pair generation (guide §3.2: reduce
    the big side before shuffling): callers that only care about pairs
    landing on a known id subset (decontamreport's eval members) skip
    the full pair fan-out entirely.  Self-pairs stay unconditional so
    n_src is unchanged.

    ``toks_df`` (r14): an already-tokenized (doc_id, toks) frame —
    callers that tokenize the same corpus for several gram families
    (decontamreport) pass their shared token pass instead of having the
    corpus re-split here."""
    from dronedb_spark.tables import spread
    from dronedb_spark.text.dedup import _shingles_from_toks

    shingled = (
        _shingles_from_toks(toks_df)
        if toks_df is not None
        else _shingle_df(spread(docs))
    )
    sh = barrier_persist(
        shingled.select(
            "doc_id", F.explode(F.array_distinct("sh")).alias("s")
        )
    )
    df_ok = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    kept = sh.join(df_ok, "s")
    posts = kept.groupBy("s").agg(F.collect_list("doc_id").alias("ds"))
    pred = dst_pred if dst_pred is not None else "true"
    pairs = posts.select(
        F.explode(
            F.expr(
                f"""concat(
                    flatten(transform(ds,
                        x -> transform(filter(ds, y -> y != x AND ({pred})),
                                       y -> struct(x AS src_id, y AS dst_id)))),
                    transform(ds, x -> struct(x AS src_id, x AS dst_id)))"""
            )
        ).alias("p")
    ).select("p.src_id", "p.dst_id")
    counts = pairs.groupBy("src_id", "dst_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    w = Window.partitionBy("src_id")
    sized = counts.withColumn(
        "n_src",
        F.sum(
            F.when(F.col("dst_id") == F.col("src_id"), F.col("n_common"))
        ).over(w).cast("bigint"),
    )
    return (
        sized.filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            "n_common",
            "n_src",
            F.expr("n_common * 1000000 DIV n_src").cast("bigint").alias(
                "containment_micro"
            ),
        )
        .filter(F.col("containment_micro") >= min_contain_micro)
    )


def _with_excerpts(docs: DataFrame) -> DataFrame:
    """Originals plus the planted excerpt corpus: every 10th doc's
    middle slice as a new document (id offset by 10^9)."""
    excerpts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + EXCERPT_OFFSET).alias("doc_id"),
        F.expr("substr(text, 30, 160)").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(excerpts)


@check(
    "containment_subset_pairs",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
                   substr(text, 30, 160) AS text
            FROM documents WHERE doc_id % 10 = 0),
        words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                FROM words)),
        df_ok AS (
            SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_DF}),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df_ok USING (s)),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_src FROM kept GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT p.src_id, p.dst_id, p.n_common,
               CAST(z.n_src AS BIGINT) AS n_src,
               CAST(p.n_common * 1000000 // z.n_src AS BIGINT)
                   AS containment_micro
        FROM pairs p JOIN sizes z ON z.doc_id = p.src_id
        WHERE p.n_common * 1000000 // z.n_src >= {MIN_CONTAIN_MICRO}
        ORDER BY src_id, dst_id""",
)
def q_containment_subset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed ≥80% containment pairs over originals + planted
    excerpts — every excerpt must point at its host page."""
    docs = _with_excerpts(load(spark, sf_dir, "documents"))
    return containment_pairs(docs).orderBy("src_id", "dst_id")


# --------------------------------------------------- 10x load twin ----
#
# The family's hot-anchor discipline (segdedup/substring/semdedup all
# carry one): the corpus ∪ excerpts replicated 10× with re-keyed ids —
# every shingle's posting list inflates 10×, every replica pair is a
# 100%-containment hit, and the df cap must keep the pair fan-out
# bounded (boilerplate shingles cross the cap under replication, which
# is exactly the cap's job).  The check result is a per-replica rollup
# (10 rows), so the driver compare stays small while the full 10× pair
# computation runs.

_INFLATE = 10
_INFLATE_STRIDE = 10_000_000_000  # > EXCERPT_OFFSET + any doc_id


def _inflated_corpus(docs: DataFrame, copies: int = _INFLATE) -> DataFrame:
    spark = docs.sparkSession
    ks = F.broadcast(spark.range(copies).select(F.col("id").alias("k")))
    return (
        _with_excerpts(docs)
        .crossJoin(ks)
        .select(
            (F.col("doc_id") + F.col("k") * _INFLATE_STRIDE).alias("doc_id"),
            "text",
        )
    )


@check(
    "containment_subset_pairs_10x",
    small=True,
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
                   substr(text, 30, 160) AS text
            FROM documents WHERE doc_id % 10 = 0),
        corpus AS (
            SELECT base.doc_id + k.k * {_INFLATE_STRIDE} AS doc_id, text
            FROM base, (SELECT unnest(range(0, {_INFLATE})) AS k) k),
        words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        sh AS (
            SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                FROM words)),
        df_ok AS (
            SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_DF}),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df_ok USING (s)),
        sizes AS (
            SELECT doc_id, COUNT(*) AS n_src FROM kept GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
                   COUNT(*) AS n_common
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        hits AS (
            SELECT p.src_id, p.dst_id,
                   p.n_common * 1000000 // z.n_src AS cm
            FROM pairs p JOIN sizes z ON z.doc_id = p.src_id
            WHERE p.n_common * 1000000 // z.n_src >= {MIN_CONTAIN_MICRO})
        SELECT CAST(src_id // {_INFLATE_STRIDE} AS BIGINT) AS src_k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN src_id % {_INFLATE_STRIDE}
                                  = dst_id % {_INFLATE_STRIDE}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_replica_self,
               CAST(SUM(CASE WHEN src_id % {_INFLATE_STRIDE}
                                  >= {EXCERPT_OFFSET}
                              AND dst_id % {_INFLATE_STRIDE}
                                  = src_id % {_INFLATE_STRIDE}
                                    - {EXCERPT_OFFSET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_excerpt_hits,
               CAST(SUM(cm) AS BIGINT) AS sum_contain_micro
        FROM hits
        GROUP BY 1 ORDER BY 1""",
)
def q_containment_subset_pairs_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10×-replicated corpus ∪ excerpts through the df-capped
    containment plan, rolled up per source replica: pair counts,
    same-base-document replica hits, excerpt→host hits, containment
    mass — linear-scaling evidence for the posting-list cap."""
    docs = load(spark, sf_dir, "documents")
    pairs = containment_pairs(_inflated_corpus(docs))
    src_base = F.col("src_id") % _INFLATE_STRIDE
    dst_base = F.col("dst_id") % _INFLATE_STRIDE
    return (
        pairs.groupBy(
            F.expr(f"src_id DIV {_INFLATE_STRIDE}")
            .cast("bigint")
            .alias("src_k")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((src_base == dst_base).cast("bigint")).alias(
                "n_replica_self"
            ),
            F.sum(
                (
                    (src_base >= EXCERPT_OFFSET)
                    & (dst_base == src_base - EXCERPT_OFFSET)
                ).cast("bigint")
            ).alias("n_excerpt_hits"),
            F.sum("containment_micro").cast("bigint").alias(
                "sum_contain_micro"
            ),
        )
        .orderBy("src_k")
    )


# ------------------------------------------- store + incremental probe --
#
# The family's daily-ingest member (the band/postings/semdedup store
# discipline): yesterday's corpus persists ONCE as a shingle-bucket-
# partitioned posting store, and today's batch answers "which of my
# documents are mostly contained in stored documents?" reading only its
# shingles' bucket directories — the corpus is never re-shingled per
# batch.
#
# Layout under <path>: postings/ (bkt, s, doc_id) holding ONLY shingles
# whose build-time df <= max_df (bounded posting lists on disk), and
# dfs/ (bkt, s, df) holding EVERY shingle's df — the truth the probe
# needs to apply the cap to store+batch combined frequencies (a shingle
# the build dropped must still count as frequent, not as absent).

import hashlib

N_SH_BUCKETS = 64


def _sh_bucket(s: str, n_buckets: int = N_SH_BUCKETS) -> int:
    """Driver-side twin of the store's bucket column (invindex.py:241
    discipline): md5-prefix mod n_buckets from the shingle bytes."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:6], 16) % n_buckets


def _sh_bucket_col(n_buckets: int = N_SH_BUCKETS) -> Column:
    return (
        F.conv(F.substring(F.md5("s"), 1, 6), 16, 10).cast("bigint")
        % n_buckets
    ).cast("int")


def probe_buckets(
    shingles: DataFrame, n_buckets: int = N_SH_BUCKETS
) -> list[int]:
    """Engine-side probe-set derivation: the distinct BUCKET ids of a
    batch's shingles — at most ``n_buckets`` rows ever reach the driver,
    regardless of how many distinct shingles the batch holds (the
    collect-the-shingles variant this replaced was driver-bound: one
    Python string per distinct batch shingle)."""
    return sorted(
        r["b"]
        for r in shingles.select(_sh_bucket_col(n_buckets).alias("b"))
        .distinct()
        .collect()
    )


def _distinct_shingles(docs: DataFrame) -> DataFrame:
    # in-row array_distinct + doc_id grain == global distinct on
    # (doc_id, s), without the exchange a .distinct() would insert
    return _shingle_df(docs).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("s")
    )


def write_containment_store(
    docs: DataFrame,
    path: str,
    max_df: int = MAX_DF,
    n_buckets: int = N_SH_BUCKETS,
) -> None:
    """One corpus pass: distinct (doc_id, shingle) postings for shingles
    at or under the df cap, plus the full shingle-df sidecar, both
    partitioned by the md5 shingle bucket."""
    sh = barrier_persist(_distinct_shingles(docs))
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    (
        dfs.withColumn("bkt", _sh_bucket_col(n_buckets))
        .repartition("bkt")
        .write.partitionBy("bkt")
        .mode("overwrite")
        .parquet(path + "/dfs")
    )
    (
        sh.join(dfs.filter(F.col("df") <= max_df).select("s"), "s")
        .withColumn("bkt", _sh_bucket_col(n_buckets))
        .repartition("bkt")
        .write.partitionBy("bkt")
        .mode("overwrite")
        .parquet(path + "/postings")
    )


def incremental_containment(
    spark: SparkSession,
    path: str,
    batch_docs: DataFrame,
    max_df: int = MAX_DF,
    min_contain_micro: int = MIN_CONTAIN_MICRO,
    n_buckets: int = N_SH_BUCKETS,
) -> DataFrame:
    """(src_id, dst_id, n_common, n_src, containment_micro): batch
    documents ≥ min_contain contained in STORED documents, reading only
    the batch shingles' bucket directories.  The cap applies to the
    COMBINED frequency (store df + batch df) so a boilerplate shingle
    can't sneak back in through a small batch; the denominator is the
    batch doc's shingles surviving that combined cap."""
    bsh = barrier_persist(_distinct_shingles(batch_docs))
    bdf = bsh.groupBy("s").agg(F.count(F.lit(1)).alias("bdf"))
    buckets = probe_buckets(bdf, n_buckets)
    store_dfs = (
        spark.read.parquet(path + "/dfs")
        .filter(F.col("bkt").isin(buckets))
        .select("s", "df")
    )
    postings = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("bkt").isin(buckets))
        .select("s", F.col("doc_id").alias("dst_id"))
    )
    # combined-cap verdict per batch shingle (absent from store → df 0)
    kept_b = barrier_persist(
        bdf.join(store_dfs, "s", "left")
        .filter(
            F.coalesce(F.col("df"), F.lit(0)) + F.col("bdf") <= max_df
        )
        .select("s")
    )
    sizes = (
        bsh.join(kept_b, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_src"))
    )
    pairs = (
        bsh.join(kept_b, "s")
        .join(postings, "s")
        .groupBy(F.col("doc_id").alias("src_id"), "dst_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "src_id"), "src_id")
        .select(
            "src_id",
            "dst_id",
            "n_common",
            F.col("n_src").cast("bigint").alias("n_src"),
            F.expr("n_common * 1000000 DIV n_src").cast("bigint").alias(
                "containment_micro"
            ),
        )
        .filter(F.col("containment_micro") >= min_contain_micro)
    )


def _excerpt_batch(docs: DataFrame) -> DataFrame:
    """Today's scrape: every 10th stored document quoted as a new doc."""
    return docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + EXCERPT_OFFSET).alias("doc_id"),
        F.expr("substr(text, 30, 160)").alias("text"),
    )


@check(
    "containment_store_probe",
    small=True,
    oracle=f"""
        WITH batch AS (
            SELECT doc_id + {EXCERPT_OFFSET} AS doc_id,
                   substr(text, 30, 160) AS text
            FROM documents WHERE doc_id % 10 = 0),
        swords AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bwords AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
        ssh AS (SELECT DISTINCT doc_id, s FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                    FROM swords)),
        bsh AS (SELECT DISTINCT doc_id, s FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
                    FROM bwords)),
        sdf AS (SELECT s, COUNT(*) AS df FROM ssh GROUP BY s),
        bdf AS (SELECT s, COUNT(*) AS bdf FROM bsh GROUP BY s),
        kept AS (
            SELECT b.s FROM bdf b LEFT JOIN sdf d ON d.s = b.s
            WHERE COALESCE(d.df, 0) + b.bdf <= {MAX_DF}),
        sizes AS (
            SELECT bsh.doc_id, COUNT(*) AS n_src
            FROM bsh JOIN kept USING (s) GROUP BY bsh.doc_id),
        pairs AS (
            SELECT b.doc_id AS src_id, p.doc_id AS dst_id,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM bsh b
            JOIN kept USING (s)
            JOIN (SELECT sh.doc_id, sh.s FROM ssh sh
                  JOIN sdf ON sdf.s = sh.s AND sdf.df <= {MAX_DF}) p
              ON p.s = b.s
            GROUP BY b.doc_id, p.doc_id)
        SELECT p.src_id, p.dst_id, p.n_common,
               CAST(z.n_src AS BIGINT) AS n_src,
               CAST(p.n_common * 1000000 // z.n_src AS BIGINT)
                   AS containment_micro
        FROM pairs p JOIN sizes z ON z.doc_id = p.src_id
        WHERE p.n_common * 1000000 // z.n_src >= {MIN_CONTAIN_MICRO}
        ORDER BY src_id, dst_id""",
)
def q_containment_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the shingle-bucket containment store from the corpus, then
    probe today's excerpt batch READING ONLY THE STORE — every planted
    quote must surface its host.  Scratch-dir check: collected
    in-function."""
    import tempfile

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as td:
        path = td + "/containment_store"
        write_containment_store(docs, path)
        rows = [
            (
                r["src_id"],
                r["dst_id"],
                r["n_common"],
                r["n_src"],
                r["containment_micro"],
            )
            for r in incremental_containment(
                spark, path, _excerpt_batch(docs)
            )
            .orderBy("src_id", "dst_id")
            .collect()
        ]
    return spark.createDataFrame(
        rows,
        "src_id bigint, dst_id bigint, n_common bigint, n_src bigint,"
        " containment_micro bigint",
    )
