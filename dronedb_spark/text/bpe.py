"""BPE vocabulary induction — learning a byte-pair-encoding tokenizer
from the corpus (beyond the reference; public method: Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", the
GPT-2/tiktoken family's training step).

Scale shape — the insight that makes corpus-scale BPE cheap: after ONE
corpus pass builds the (word, freq) table, every training iteration
runs on the DISTINCT-WORD table (≈100k rows for any natural-language
corpus, regardless of whether the corpus is 1 GB or 100 TB).  Each
iteration is: explode adjacent symbol pairs weighted by word freq →
one groupBy → argmax (count desc, then lexicographic — deterministic)
→ a ONE-ROW collect (the merge rule; k merges = k scalars through the
driver, the same budget as IVF centroids) → apply the merge with a
JVM-side array fold (``aggregate`` over the symbol array: merge
greedy-left, no UDF).  The fold's greedy-left semantics equal
sequential non-overlapping string replace, which is how the oracle
states one merge in SQL.

Encoding new text with a learned merge list chains the same fold once
per rank for small vocabularies (oracle-able), and drops to one
Arrow-batched trie pass (``mapInPandas``) when ranks are many — the
production path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load, spread
from dronedb_spark.text.tokens import tokens

END = "</w>"


def word_freqs(docs: DataFrame) -> DataFrame:
    """One corpus pass → (word, freq): the table every BPE iteration
    works on."""
    return (
        spread(docs)
        .select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def init_symbols(words: DataFrame) -> DataFrame:
    """word → its character symbols + the end-of-word marker."""
    return words.select(
        "word", "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END))
        ).alias("syms"),
    )


def pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the weighted word table."""
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
        F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        symtab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def top_pair(symtab: DataFrame) -> tuple[str, str, int] | None:
    """The next merge rule: highest count, ties by (a, b) ascending —
    deterministic across cluster sizes."""
    rows = (
        pair_counts(symtab)
        .orderBy(F.desc("n"), "a", "b")
        .limit(1)
        .collect()
    )
    if not rows:
        return None
    return (rows[0]["a"], rows[0]["b"], rows[0]["n"])


def _merge_expr(syms: Column, a: str, b: str) -> Column:
    """Greedy-left merge of adjacent (a, b) → a||b inside a symbol
    array, as a JVM fold: acc ends with `a` and the next symbol is `b`
    ⇒ replace the tail with the merged symbol."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def apply_merge(symtab: DataFrame, a: str, b: str) -> DataFrame:
    return symtab.withColumn("syms", _merge_expr(F.col("syms"), a, b))


def learn_bpe(docs: DataFrame, n_merges: int) -> list[tuple[str, str]]:
    """The training loop: ``n_merges`` iterations over the distinct-word
    table.  The symbol table is cached per iteration (it is vocabulary-
    sized, not corpus-sized) so iteration i never recomputes i-1 plans."""
    symtab = init_symbols(word_freqs(docs)).persist()
    merges: list[tuple[str, str]] = []
    try:
        for _ in range(n_merges):
            t = top_pair(symtab)
            if t is None or t[2] < 2:
                break
            a, b, _n = t
            nxt = apply_merge(symtab, a, b).persist()
            symtab.unpersist()
            symtab = nxt
            merges.append((a, b))
    finally:
        symtab.unpersist()
    return merges


def encode_words(words: DataFrame, merges: list[tuple[str, str]],
                 expr_max: int = 48) -> DataFrame:
    """(word, ...) → + ``tokens`` array under the learned merges.
    ≤ ``expr_max`` ranks chain the fold expression (whole-stage
    codegen); above that, one Arrow pass applies all ranks per batch."""
    if len(merges) <= expr_max:
        col = F.concat(F.split(F.col("word"), ""), F.array(F.lit(END)))
        for a, b in merges:
            col = _merge_expr(col, a, b)
        return words.withColumn("tokens", col)

    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def run(batches):
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                syms = list(w) + [END]
                while len(syms) > 1:
                    best, bi = None, -1
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best, bi = r, i
                    if best is None:
                        break
                    syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
                toks.append(syms)
            pdf = pdf.copy()
            pdf["tokens"] = toks
            yield pdf

    import pyspark.sql.types as T

    schema = T.StructType(
        list(words.schema.fields) + [T.StructField("tokens", T.ArrayType(T.StringType()))]
    )
    return words.mapInPandas(run, schema=schema)


# ------------------------------------------------------------------ check


@check(
    "bpe_first_merge",
    oracle=f"""
        WITH words AS (
            SELECT word, COUNT(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> '' GROUP BY word
        ),
        syms AS (
            SELECT word, freq,
                   ' ' || array_to_string(
                       list_append(string_split_regex(word, ''), '{END}'), ' ')
                   || ' ' AS s
            FROM words
        ),
        pairs AS (
            SELECT p[1] AS a, p[2] AS b, SUM(freq) AS n
            FROM (
                SELECT freq,
                       unnest(list_zip(
                           list_slice(sy, 1, len(sy) - 1),
                           list_slice(sy, 2, len(sy)))) AS p
                FROM (SELECT freq,
                             list_append(string_split_regex(word, ''), '{END}') AS sy
                      FROM words)
            ) t(freq, p)
            GROUP BY p[1], p[2]
        ),
        best AS (
            SELECT a, b FROM pairs ORDER BY n DESC, a, b LIMIT 1
        )
        SELECT w.word, CAST(w.freq AS BIGINT) AS freq,
               trim(replace(s.s, ' ' || best.a || ' ' || best.b || ' ',
                            ' ' || best.a || best.b || ' ')) AS merged
        FROM words w JOIN syms s USING (word) CROSS JOIN best
        ORDER BY w.word""",
)
def q_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration, value-checked: the weighted
    pair argmax (deterministic tiebreak) and the greedy-left merge fold
    — stated in SQL as sequential non-overlapping string replace, which
    the fold provably equals.  Later iterations repeat this exact
    algebra (pytest covers the loop)."""
    docs = load(spark, sf_dir, "documents")
    symtab = init_symbols(word_freqs(docs))
    a, b, _ = top_pair(symtab)
    return (
        apply_merge(symtab, a, b)
        .select(
            "word", "freq",
            F.array_join("syms", " ").alias("merged"),
        )
        .orderBy("word")
    )


# ------------------------------------------------- corpus encode check

# Pinned merge table: learn_bpe(documents @ sf0.01, 12) — frozen so the
# DuckDB oracle can state the exact same ranks as literals.  Induction
# itself is gated separately (bpe_first_merge); THIS row gates apply —
# the operation a training pipeline runs on every document.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
]


def _fold_sql(list_expr: str, a: str, b: str) -> str:
    """One merge rank as a DuckDB string fold with EXACTLY the greedy-left
    semantics of ``_merge_expr``: acc's last symbol == a and next == b ⇒
    append b without a separator (the merged symbol), else append ' '+s.
    The '' prepend seeds the accumulator (DuckDB 1.0 list_reduce has no
    initial-value form)."""
    return (
        f"list_reduce(list_prepend('', {list_expr}), (acc, s) -> "
        f"CASE WHEN ends_with(acc, ' {a}') AND s = '{b}' "
        f"THEN acc || s ELSE acc || ' ' || s END)"
    )


def _encode_sql(word_col: str) -> str:
    """The full pinned-rank encode of one word column, rank folds chained
    in merge order (sequential full passes == greedy lowest-rank-first;
    a merge can only create pairs over later-learned symbols)."""
    expr = f"list_append(string_split_regex({word_col}, ''), '{END}')"
    for a, b in BPE_MERGES:
        expr = f"string_split(trim({_fold_sql(expr, a, b)}), ' ')"
    return expr


_BPE_ENC_ORACLE = f"""
    WITH words AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word),
    enc AS (SELECT word, freq, {_encode_sql('word')} AS toks FROM words)
    SELECT word, CAST(freq AS BIGINT) AS freq,
           CAST(len(toks) AS INT) AS n_tokens,
           array_to_string(toks, ' ') AS token_str
    FROM enc ORDER BY word"""


@check("bpe_encode_corpus", oracle=_BPE_ENC_ORACLE)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the pinned merges: one corpus pass to
    the distinct-word table (the 100-TB trick — encode cost is bounded
    by VOCABULARY size, not corpus size), then the rank-chained JVM fold
    per word.  The oracle restates every fold in SQL."""
    docs = load(spark, sf_dir, "documents")
    enc = encode_words(word_freqs(docs), BPE_MERGES)
    return enc.select(
        "word",
        F.col("freq").cast("bigint").alias("freq"),
        F.size("tokens").cast("int").alias("n_tokens"),
        F.array_join("tokens", " ").alias("token_str"),
    ).orderBy("word")


@check(
    "bpe_encode_corpus_10x",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id + k.k * 100000000 AS doc_id, text
        FROM documents, (SELECT unnest(range(0, 10)) AS k) k),
    words AS (
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM corpus)
        WHERE word <> '' GROUP BY word),
    enc AS (SELECT word, freq, {_encode_sql('word')} AS toks FROM words)
    SELECT CAST(SUM(freq) AS BIGINT) AS total_words,
           CAST(SUM(freq * len(toks)) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_words
    FROM enc""",
)
def q_bpe_encode_corpus_10x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize at 10× corpus mass (broadcast-inflated): the corpus pass
    sees 10× rows but the encode still runs once per DISTINCT word —
    wall-clock must scale with the word-count aggregation, not with
    10× encode work.  Output is the corpus token accounting (the number
    a training run budgets by)."""
    from dronedb_spark.text.segdedup import inflated_documents

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    enc = encode_words(word_freqs(inflated_documents(docs, copies=10)), BPE_MERGES)
    return enc.agg(
        F.sum("freq").cast("bigint").alias("total_words"),
        F.sum(F.col("freq") * F.size("tokens")).cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_words"),
    )


# ------------------------------------------------- fertility profile --


def bpe_fertility_profile(docs: DataFrame) -> DataFrame:
    """(source, n_words, n_bpe_tokens, fertility_micro,
    chars_per_token_micro): tokenizer fertility per source — BPE tokens
    per whitespace word and characters per BPE token, the two numbers a
    training run budgets sequence lengths and cost-per-byte by (a
    source whose fertility spikes is hostile to the tokenizer: wrong
    language, wrong domain, or junk).

    Composition, not new machinery: the per-word token counts come
    from the vocabulary-bounded ``encode_words`` pass (the 100-TB
    property — encode cost scales with DISTINCT words), joined to a
    per-(source, word) frequency table; ratios are integer
    micro-quotients, bit-deterministic."""
    sw = (
        spread(docs)
        .select("source", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = encode_words(
        sw.groupBy("word").agg(F.sum("freq").alias("freq")), BPE_MERGES
    ).select("word", F.size("tokens").alias("n_tok"), F.length("word").alias("n_chr"))
    j = sw.join(enc, "word")
    return (
        j.groupBy("source")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tok")).cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.col("freq") * F.col("n_chr")).cast("bigint").alias("_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            F.expr("(n_bpe_tokens * 1000000) DIV n_words").alias("fertility_micro"),
            F.expr("(_chars * 1000000) DIV n_bpe_tokens").alias(
                "chars_per_token_micro"
            ),
        )
    )


@check(
    "bpe_fertility_profile",
    oracle=f"""
    WITH sw AS (
        SELECT source, word, COUNT(*) AS freq
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY source, word),
    enc AS (
        SELECT word, len({_encode_sql('word')}) AS n_tok,
               length(word) AS n_chr
        FROM (SELECT DISTINCT word FROM sw) w),
    j AS (SELECT s.source, s.freq, e.n_tok, e.n_chr
          FROM sw s JOIN enc e ON e.word = s.word),
    sums AS (
        SELECT source,
               CAST(SUM(freq) AS BIGINT) AS n_words,
               CAST(SUM(freq * n_tok) AS BIGINT) AS n_bpe_tokens,
               CAST(SUM(freq * n_chr) AS BIGINT) AS chars
        FROM j GROUP BY source)
    SELECT source, n_words, n_bpe_tokens,
           CAST((n_bpe_tokens * 1000000) // n_words AS BIGINT)
               AS fertility_micro,
           CAST((chars * 1000000) // n_bpe_tokens AS BIGINT)
               AS chars_per_token_micro
    FROM sums ORDER BY source""",
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility under the pinned BPE merges:
    BPE-tokens-per-word and chars-per-token as integer micro ratios."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    return bpe_fertility_profile(docs).orderBy("source")
