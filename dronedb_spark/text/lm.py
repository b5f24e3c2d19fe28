"""N-gram language-model quality scoring — the CCNet-style perplexity
filter of a training-data pipeline (beyond the reference; public
method: Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", and the Gopher/C4 quality-filter
families).

Two passes, both relational:

  1. TRAIN — token counts over a training slice → add-one-smoothed
     unigram log-probabilities.  One explode + one groupBy (map-side
     partial aggregation); the corpus-level totals (N tokens, V vocab)
     ride along via a 1-row cross join, never a driver collect.
  2. SCORE — every document's mean negative log-probability
     (cross-entropy, nats).  Tokens join the LM table; unseen tokens
     take the OOV probability 1/(N+V+1).

Scale design — the vocabulary join is Zipf-skewed (the head tokens hit
millions of rows while the tail is cold), the classic skew-join case:
``unigram_logprob`` splits the LM at the top-``head_k`` tokens by
count, BROADCASTS the hot head, and shuffle-joins only the cold tail —
each side a clean equi-join, no salting needed because the broadcast
removes the hot keys from the shuffle entirely.  At 100 TB the head
easily fits any executor (it is ``head_k`` rows) while the tail
shuffle sees near-uniform keys.

Numeric parity: per-token ln() agrees across engines to ~1 ulp; sums
accumulate as DECIMAL(38, 15) so partition order cannot move the 9-dp
rounded result.  Perplexity = exp(H) is exposed in the API but kept
OUT of the oracle-checked projection: exp amplifies a 1e-13 H
difference to ~1e-9 at H≈8, right at the comparator's resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import barrier_persist, load, spread
from dronedb_spark.text.tokens import tokens


def explode_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, tok), one row per ``tokens`` entry."""
    return docs.select("doc_id", F.explode(tokens("text")).alias("tok"))


def train_unigram(train_docs: DataFrame) -> DataFrame:
    """→ (tok, n, logp) with add-one smoothing: p = (n+1)/(N+V+1).
    The +1 in the denominator funds the single OOV pseudo-token."""
    # The trained model is referenced by several consumers (skew-split
    # head, tail join, OOV floor) — materialize the count pass once
    # (vocab-sized model state) instead of re-tokenizing the training
    # slice per reference (r13 optimization, guide §2.4/§5).
    counts = barrier_persist(
        explode_tokens(spread(train_docs)).groupBy("tok").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    totals = counts.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("v_total")
    )
    denom = F.col("n_total") + F.col("v_total") + 1.0
    return counts.crossJoin(F.broadcast(totals)).select(
        "tok", "n",
        F.log((F.col("n") + 1.0) / denom).alias("logp"),
        F.log(1.0 / denom).alias("oov_logp"),
    )


def unigram_logprob(toks: DataFrame, lm: DataFrame, head_k: int = 1024) -> DataFrame:
    """(doc_id, tok) ⟕ LM with the skew split: broadcast the
    ``head_k`` most frequent tokens, shuffle-join the tail."""
    head = F.broadcast(lm.orderBy(F.desc("n"), "tok").limit(head_k))
    hit = toks.join(head, "tok", "left").select(
        "doc_id", "tok", "logp", "oov_logp"
    )
    resolved = hit.filter(F.col("logp").isNotNull())
    tail = hit.filter(F.col("logp").isNull()).drop("logp", "oov_logp").join(
        lm, "tok", "left"
    ).select("doc_id", "tok", "logp", "oov_logp")
    return resolved.unionByName(tail)


def doc_cross_entropy(docs: DataFrame, lm: DataFrame, head_k: int = 1024) -> DataFrame:
    """→ (doc_id, n_tokens, n_oov, cross_entropy, perplexity); the
    entropy is mean −ln p per token in nats, OOV tokens scored at the
    smoothing floor."""
    # every scored doc needs the corpus totals even if all tokens are
    # OOV; carry oov_logp from any LM row via a 1-row broadcast
    oov = F.broadcast(lm.agg(F.min("oov_logp").alias("oov_logp_all")))
    scored = unigram_logprob(explode_tokens(spread(docs)), lm, head_k)
    per_doc = scored.crossJoin(oov).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("logp").isNull(), 1).otherwise(0)).alias("n_oov"),
        (-F.sum(
            F.coalesce(F.col("logp"), F.col("oov_logp_all")).cast("decimal(38,15)")
        ).cast("double")).alias("nll"),
    )
    h = F.col("nll") / F.col("n_tokens")
    return per_doc.select(
        "doc_id", "n_tokens", "n_oov",
        h.alias("cross_entropy"),
        F.exp(h).alias("perplexity"),
    )


# ------------------------------------------------------------------ check

_LM_ORACLE = """
    WITH train_toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 0
    ),
    lm AS (
        SELECT tok, COUNT(*) AS n FROM train_toks GROUP BY tok
    ),
    totals AS (
        SELECT SUM(n) AS n_total, COUNT(*) AS v_total FROM lm
    ),
    probs AS (
        SELECT tok, ln((n + 1.0) / (n_total + v_total + 1.0)) AS logp FROM lm, totals
    ),
    score_toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    scored AS (
        SELECT s.doc_id,
               COALESCE(p.logp, (SELECT ln(1.0 / (n_total + v_total + 1.0)) FROM totals)) AS lp,
               CASE WHEN p.logp IS NULL THEN 1 ELSE 0 END AS oov
        FROM score_toks s LEFT JOIN probs p ON s.tok = p.tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(CAST(-SUM(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9)
               AS cross_entropy
    FROM scored GROUP BY doc_id ORDER BY doc_id"""


@check("lm_doc_perplexity", oracle=_LM_ORACLE)
def q_lm_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the smoothed unigram LM on the even-doc_id half of the
    corpus, score EVERY document (odd docs exercise real OOV tokens) —
    the quality-filter signal a CCNet-style pipeline thresholds on."""
    docs = load(spark, sf_dir, "documents")
    lm = train_unigram(docs.filter(F.col("doc_id") % 2 == 0))
    return (
        doc_cross_entropy(docs, lm)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round("cross_entropy", 9).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- bigram extension


def explode_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) for consecutive token pairs — zip_with over the
    token array and its tail, no posexplode/self-join."""
    toks = tokens("text")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def train_bigram(train_docs: DataFrame) -> DataFrame:
    """→ (w1, w2, n12, n1) bigram + left-context counts; the conditional
    p(w2|w1) = (n12 + 1) / (n1 + V + 1) resolves at score time with the
    unigram table's V."""
    big = barrier_persist(
        explode_bigrams(spread(train_docs)).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("n12")
        )
    )
    left = big.groupBy("w1").agg(F.sum("n12").alias("n1"))
    return big.join(left, "w1")


def doc_cross_entropy_interp(
    docs: DataFrame, uni: DataFrame, bi: DataFrame, lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram cross-entropy (the Jelinek-Mercer smoothing of
    the CCNet-style filter): score each consecutive pair with
    ln(λ·p(w2|w1) + (1−λ)·p_uni(w2)); an unseen left context backs off
    to the unigram term alone (λ·0 + ...).  Pairs join the bigram table
    on (w1, w2) and the unigram table on w2 — both Zipf-skewed, both
    going through the same broadcast-head/shuffle-tail split as the
    unigram scorer (head reuse: the hot pairs ARE pairs of hot
    unigrams)."""
    v_tot = F.broadcast(
        uni.agg(
            F.count(F.lit(1)).alias("v_all"),
            F.min("oov_logp").alias("oov_logp_all"),
        )
    )
    pairs = explode_bigrams(spread(docs))
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("logp").alias("uni_logp")),
            "w2", "left",
        )
        .crossJoin(v_tot)
    )
    p_uni = F.coalesce(F.exp("uni_logp"), F.exp("oov_logp_all"))
    p_bi = F.when(
        F.col("n12").isNotNull(),
        (F.col("n12") + 1.0) / (F.col("n1") + F.col("v_all") + 1.0),
    ).otherwise(F.lit(0.0))
    lp = F.log(lam * p_bi + (1.0 - lam) * p_uni)
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (-F.sum(lp.cast("decimal(38,15)")).cast("double")).alias("nll"),
    )
    h = F.col("nll") / F.col("n_pairs")
    return per_doc.select(
        "doc_id", "n_pairs", h.alias("cross_entropy"), F.exp(h).alias("perplexity")
    )


_BILM_ORACLE = """
    WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    uni_toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM train),
    uni AS (SELECT tok, COUNT(*) AS n FROM uni_toks GROUP BY tok),
    totals AS (SELECT SUM(n) AS n_total, COUNT(*) AS v_total FROM uni),
    uni_p AS (SELECT tok, ln((n + 1.0) / (n_total + v_total + 1.0)) AS logp
              FROM uni, totals),
    tr_pairs AS (
        SELECT t.w1, lead(t.w1) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS w2
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM train) t
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS n12 FROM tr_pairs WHERE w2 IS NOT NULL
           GROUP BY w1, w2),
    lefts AS (SELECT w1, SUM(n12) AS n1 FROM bi GROUP BY w1),
    sc_pairs AS (
        SELECT t.doc_id, t.w1,
               lead(t.w1) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS w2
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents) t
    ),
    scored AS (
        SELECT p.doc_id,
               ln(0.7 * (CASE WHEN b.n12 IS NOT NULL
                         THEN (b.n12 + 1.0) / (l.n1 + tt.v_total + 1.0)
                         ELSE 0.0 END)
                  + 0.3 * COALESCE(exp(u.logp),
                                   exp(ln(1.0 / (tt.n_total + tt.v_total + 1.0))))) AS lp
        FROM sc_pairs p
        LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
        LEFT JOIN lefts l ON p.w1 = l.w1
        LEFT JOIN uni_p u ON p.w2 = u.tok
        CROSS JOIN totals tt
        WHERE p.w2 IS NOT NULL
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(-SUM(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9)
               AS cross_entropy
    FROM scored GROUP BY doc_id ORDER BY doc_id"""


@check("lm_bigram_interp", oracle=_BILM_ORACLE)
def q_lm_bigram_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram cross-entropy (λ=0.7) trained on the even
    half, scored corpus-wide — unseen pairs back off to the smoothed
    unigram, unseen words to the OOV floor."""
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    out = doc_cross_entropy_interp(docs, train_unigram(train), train_bigram(train))
    return out.select(
        "doc_id",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("cross_entropy", 9).alias("cross_entropy"),
    ).orderBy("doc_id")


# ------------------------------------------------ Kneser-Ney smoothing


def kn_tables(train_docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The four interpolated-KN model tables from one bigram-count pass
    (Kneser & Ney 1995; the KenLM/CCNet smoothing):

      * ``bi``    — (w1, w2, n12): raw bigram counts
      * ``lefts`` — (w1, n1, fan1): left-context total + distinct-follower
        fan-out N1+(w1·)
      * ``conts`` — (w2, cont2): distinct-predecessor continuation count
        N1+(·w2)
      * ``tots``  — 1 row (t_types, v_total): distinct bigram types
        N1+(··) and the unigram vocabulary size

    All derive from the bigram count table by map-side-combinable
    aggregates — the corpus is read once.
    """
    # big feeds FOUR aggregates below — one materialized bigram-count
    # pass (model-state-sized) instead of four corpus tokenizations
    big = barrier_persist(
        explode_bigrams(spread(train_docs)).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("n12")
        )
    )
    lefts = big.groupBy("w1").agg(
        F.sum("n12").alias("n1"), F.count(F.lit(1)).alias("fan1")
    )
    conts = big.groupBy("w2").agg(F.count(F.lit(1)).alias("cont2"))
    vocab = explode_tokens(spread(train_docs)).agg(
        F.count_distinct("tok").alias("v_total")
    )
    tots = big.agg(F.count(F.lit(1)).alias("t_types")).crossJoin(vocab)
    return big, lefts, conts, tots


def doc_cross_entropy_kn(
    docs: DataFrame, train_docs: DataFrame, discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy, D fixed at 0.75:

        p(w2|w1) = (max(n12 − D, 0) + D·fan1·p_cont(w2)) / n1   (seen w1)
                 =  p_cont(w2)                                   (unseen w1)
        p_cont(w2) = (cont2 + 1) / (t_types + v_total + 1)

    The continuation distribution is add-one smoothed over the bigram
    type count so an OOV word keeps a positive floor in BOTH engines —
    the same +1 convention as the unigram filter.  Three equi-joins
    (pair→counts, w1→left totals, w2→continuation) plus a 1-row
    broadcast of the totals; the Zipf-hot keys ride AQE's skew-join
    split, and every aggregate is map-side combinable, so the plan is
    the same one-shuffle-per-grain shape as the JM scorer above.
    """
    big, lefts, conts, tots = kn_tables(train_docs)
    pairs = explode_bigrams(spread(docs))
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(lefts, "w1", "left")
        .join(conts, "w2", "left")
        .crossJoin(F.broadcast(tots))
    )
    p_cont = (F.coalesce(F.col("cont2"), F.lit(0)) + 1.0) / (
        F.col("t_types") + F.col("v_total") + 1.0
    )
    n12 = F.coalesce(F.col("n12"), F.lit(0))
    p_seen = (
        F.greatest(n12 - discount, F.lit(0.0))
        + discount * F.col("fan1") * p_cont
    ) / F.col("n1")
    lp = F.log(F.when(F.col("n1").isNotNull(), p_seen).otherwise(p_cont))
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (-F.sum(lp.cast("decimal(38,15)")).cast("double")).alias("nll"),
    )
    h = F.col("nll") / F.col("n_pairs")
    return per_doc.select(
        "doc_id", "n_pairs", h.alias("cross_entropy"), F.exp(h).alias("perplexity")
    )


_KN_ORACLE = """
    WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    tr_pairs AS (
        SELECT t.w1, lead(t.w1) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS w2
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM train) t
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS n12 FROM tr_pairs WHERE w2 IS NOT NULL
           GROUP BY w1, w2),
    lefts AS (SELECT w1, SUM(n12) AS n1, COUNT(*) AS fan1 FROM bi GROUP BY w1),
    conts AS (SELECT w2, COUNT(*) AS cont2 FROM bi GROUP BY w2),
    tots AS (
        SELECT (SELECT COUNT(*) FROM bi) AS t_types,
               (SELECT COUNT(DISTINCT tok) FROM
                   (SELECT unnest(string_split(text, ' ')) AS tok FROM train))
                   AS v_total
    ),
    sc_pairs AS (
        SELECT t.doc_id, t.w1,
               lead(t.w1) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS w2
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w1,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents) t
    ),
    scored AS (
        SELECT p.doc_id,
               ln(CASE WHEN l.n1 IS NOT NULL THEN
                     (GREATEST(COALESCE(b.n12, 0) - 0.75, 0.0)
                      + 0.75 * l.fan1 * (COALESCE(c.cont2, 0) + 1.0)
                        / (tt.t_types + tt.v_total + 1.0)) / l.n1
                  ELSE (COALESCE(c.cont2, 0) + 1.0)
                       / (tt.t_types + tt.v_total + 1.0) END) AS lp
        FROM sc_pairs p
        LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
        LEFT JOIN lefts l ON p.w1 = l.w1
        LEFT JOIN conts c ON p.w2 = c.w2
        CROSS JOIN tots tt
        WHERE p.w2 IS NOT NULL
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(-SUM(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9)
               AS cross_entropy
    FROM scored GROUP BY doc_id ORDER BY doc_id"""


@check("lm_kneser_ney", oracle=_KN_ORACLE)
def q_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy (D=0.75) trained on
    the even half, scored corpus-wide — the published KenLM smoothing
    the CCNet filter actually ships, completing the LM family next to
    the add-one unigram and the Jelinek-Mercer bigram."""
    docs = load(spark, sf_dir, "documents")
    out = doc_cross_entropy_kn(docs, docs.filter(F.col("doc_id") % 2 == 0))
    return out.select(
        "doc_id",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("cross_entropy", 9).alias("cross_entropy"),
    ).orderBy("doc_id")


# --------------------------------------------------- 10x stress variant

_LM10_COPIES = 10
_LM10_STRIDE = 10000000

_LM10_ORACLE = f"""
    WITH train_toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 0
    ),
    lm AS (SELECT tok, COUNT(*) AS n FROM train_toks GROUP BY tok),
    totals AS (SELECT SUM(n) AS n_total, COUNT(*) AS v_total FROM lm),
    corpus AS (
        SELECT doc_id + k.k * {_LM10_STRIDE} AS doc_id, k.k AS copy, text
        FROM documents, (SELECT unnest(range(0, {_LM10_COPIES})) AS k) k
    ),
    score_toks AS (
        SELECT doc_id, copy, unnest(string_split(text, ' ')) AS tok FROM corpus
    ),
    scored AS (
        SELECT s.doc_id, s.copy,
               COALESCE(p.logp,
                        (SELECT ln(1.0 / (n_total + v_total + 1.0)) FROM totals)) AS lp,
               CASE WHEN p.logp IS NULL THEN 1 ELSE 0 END AS oov
        FROM score_toks s
        LEFT JOIN (SELECT tok, ln((n + 1.0) / (n_total + v_total + 1.0)) AS logp
                   FROM lm, totals) p ON s.tok = p.tok
    ),
    per_doc AS (
        SELECT copy, doc_id, COUNT(*) AS n_tokens, SUM(oov) AS n_oov,
               CAST(-SUM(CAST(lp AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS h
        FROM scored GROUP BY copy, doc_id
    )
    SELECT CAST(copy AS BIGINT) AS copy,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*), 9)
               AS mean_cross_entropy
    FROM per_doc GROUP BY copy ORDER BY copy"""


@check("lm_doc_perplexity_10x", oracle=_LM10_ORACLE)
def q_lm_doc_perplexity_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity filter at 10× corpus mass (broadcast-inflated like
    ``dedup_corpus_segments_10x``): the skew-split score join — hot-head
    broadcast + cold-tail shuffle — must scale linearly in the token
    count; per-copy aggregates keep the compared result compact while
    every inflated token flows through the join."""
    from dronedb_spark.text.segdedup import inflated_documents

    docs = load(spark, sf_dir, "documents")
    lm = train_unigram(docs.filter(F.col("doc_id") % 2 == 0))
    big = inflated_documents(docs, copies=_LM10_COPIES)
    per_doc = doc_cross_entropy(big, lm)
    copy = (F.col("doc_id") / _LM10_STRIDE).cast("long")
    return (
        per_doc.groupBy(copy.alias("copy"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_oov").cast("long").alias("n_oov"),
            F.round(
                F.sum(F.col("cross_entropy").cast("decimal(38,15)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_cross_entropy"),
        )
        .orderBy("copy")
    )
