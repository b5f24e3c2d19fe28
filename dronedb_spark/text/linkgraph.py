"""Domain link-graph centrality — PageRank over the host graph, the
crawl-curation quality signal (Common Crawl publishes exactly this as
its host-level ranking; Page et al. 1999): a domain linked by many
well-linked domains is likelier to host quality text, and the score
feeds the same per-domain gating machinery as ``text/domains.py``.

INTEGERIZED power iteration — the whole computation is BIGINT
arithmetic so every engine, partitioning, and cluster size produces
bit-identical ranks (float PageRank drifts with accumulation order):

    base      = SCALE DIV D                      (uniform start)
    contrib_e = (rank[src] * w_e) DIV outw[src]  (per edge)
    rank'[v]  = (15 * base) DIV 100 + (85 * Σ inflow(v)) DIV 100

with SCALE = 10^12 (damping 0.85 as the exact 85/100).  Self-loops are
KEPT: a domain whose only link is itself holds its mass, which removes
the dangling-node redistribution term without changing the ordering —
the deterministic-parity tradeoff, stated.

Scale shape: the graph collapses to (src, dst, w) domain edges before
any iteration — document-sized work happens exactly once (one
self-join on the linked doc id + one groupBy).  Each of the K
iterations is one join + one map-side-combinable groupBy over the
EDGE table (~|domains|·avg-degree rows, millions at 100 TB — not the
corpus), the classic Pregel-equivalent DataFrame shape.  K is fixed
(8): rank ordering stabilizes long before the integer residuals do,
and a fixed K keeps the plan static and the oracle an unrolled CTE
chain.

The fixture corpus has no link column, so each document links to the
document ``(doc_id·13 + 7) mod N`` (derivation shared verbatim with
the oracle); a production run substitutes extracted hrefs and every
shape below is unchanged.  No reference counterpart; cites the public
PageRank recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check
from dronedb_spark.tables import load
from dronedb_spark.text.domains import with_domain

SCALE = 10**12
N_ITER = 8


def domain_edges(docs: DataFrame) -> DataFrame:
    """(src, dst, w, outw): the weighted domain graph — one outlink
    per document to its derived target doc's domain, collapsed to
    domain-pair weights + per-source out-weight (a window over the
    already-shuffled src partition, no second join)."""
    from pyspark.sql import Window

    d = with_domain(docs).select("doc_id", "domain")
    n = d.count()
    links = d.select(
        F.col("domain").alias("src"),
        ((F.col("doc_id") * 13 + 7) % n).alias("dst_doc"),
    )
    dst = d.select(F.col("doc_id").alias("dst_doc"), F.col("domain").alias("dst"))
    pairs = links.join(dst, "dst_doc").groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    return pairs.withColumn(
        "outw", F.sum("w").over(Window.partitionBy("src")).cast("bigint")
    )


def domain_pagerank(docs: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """(domain, rank): the integerized power iteration, run
    SUPERSTEP-style — the Pregel discipline:

    * the edge table goes through the ``barrier_persist`` CSE barrier
      (referenced by all K iterations; without it Catalyst re-runs the
      document self-join per iteration);
    * each iteration's rank table is ``localCheckpoint``ed to truncate
      lineage.  The ``tables.py`` caveat against localCheckpoint
      (loses the columnar cache) does not apply here: ranks are
      REPLACED every superstep, never re-scanned columnar — what an
      iterative algorithm needs is exactly lineage truncation, or the
      plan (and Catalyst analysis) grows quadratically with K
      (measured: superstep 2.2s vs 4.4s lazy-chain at K=8, and the
      gap widens with K)."""
    return pagerank_over_edges(domain_edges(docs), n_iter)


def pagerank_over_edges(edge_table: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """The superstep loop over ANY (src, dst, w, outw) edge table — the
    domain check above and the anchor-graph check (``text/anchors.py``)
    share it verbatim."""
    from dronedb_spark.tables import barrier_persist

    edges = barrier_persist(edge_table)
    doms = (
        edges.select(F.col("src").alias("domain"))
        .union(edges.select(F.col("dst").alias("domain")))
        .distinct()
        .localCheckpoint()
    )
    d_count = doms.count()
    base = SCALE // d_count
    ranks = doms.select("domain", F.lit(base).cast("bigint").alias("rank"))
    for _ in range(n_iter):
        inflow = (
            edges.join(ranks.withColumnRenamed("domain", "src"), "src")
            .select(
                F.col("dst").alias("domain"),
                F.expr("(rank * w) DIV outw").alias("c"),
            )
            .groupBy("domain")
            .agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        ranks = doms.join(inflow, "domain", "left").select(
            "domain",
            (
                F.lit((15 * base) // 100).cast("bigint")
                + F.expr("(85 * coalesce(inflow, 0L)) DIV 100").cast("bigint")
            ).alias("rank"),
        ).localCheckpoint()
    return ranks


# -------------------------------------------------------------- check --


def _pagerank_oracle() -> str:
    doms_sql = """
        d AS (SELECT doc_id, source || '/d' || CAST((doc_id * doc_id) % 10
                  AS VARCHAR) AS domain
              FROM documents),
        n AS (SELECT COUNT(*) AS n FROM d),
        links AS (
            SELECT a.domain AS src, b.domain AS dst
            FROM d a JOIN d b
              ON b.doc_id = (a.doc_id * 13 + 7) % (SELECT n FROM n)),
        edges0 AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
                   FROM links GROUP BY src, dst),
        edges AS (SELECT src, dst, w,
                         CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS outw
                  FROM edges0),
        doms AS (SELECT DISTINCT domain FROM (
                     SELECT src AS domain FROM edges
                     UNION ALL SELECT dst FROM edges) u),
        dc AS (SELECT COUNT(*) AS d FROM doms),
        base AS (SELECT CAST(1000000000000 // d AS BIGINT) AS b FROM dc),
        r0 AS (SELECT domain, (SELECT b FROM base) AS r FROM doms)"""
    steps = []
    for k in range(N_ITER):
        steps.append(f"""
        r{k + 1} AS (
            SELECT dm.domain,
                   CAST((15 * (SELECT b FROM base)) // 100
                        + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS r
            FROM doms dm LEFT JOIN (
                SELECT e.dst AS domain,
                       CAST(SUM((r.r * e.w) // e.outw) AS BIGINT) AS inflow
                FROM edges e JOIN r{k} r ON r.domain = e.src
                GROUP BY e.dst) s ON dm.domain = s.domain)""")
    return (
        "WITH "
        + doms_sql
        + ","
        + ",".join(steps)
        + f"""
        SELECT domain, r AS rank FROM r{N_ITER} ORDER BY domain"""
    )


@check("domain_pagerank", small=True, oracle=_pagerank_oracle())
def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight integerized power iterations over the derived domain
    graph — every domain's final rank bit-exact vs the unrolled-CTE
    oracle."""
    docs = load(spark, sf_dir, "documents")
    return domain_pagerank(docs).orderBy("domain")


# ------------------------------------------------------------ triangles


def undirected_domain_edges(docs: DataFrame) -> DataFrame:
    """(u, v) with u < v: the domain graph with direction and weights
    dropped, self-loops removed — triangle counting's input.  (On this
    fixture the doc-level link map is a source PERMUTATION, so this
    particular graph is triangle-free; the driver check derives a
    denser co-link graph below to exercise the operator.)"""
    e = domain_edges(docs).select("src", "dst").filter(F.col("src") != F.col("dst"))
    return e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()


def triangle_counts(und: DataFrame) -> DataFrame:
    """(domain, n_triangles): exact per-node triangle membership over an
    undirected (u < v) edge table — the clustering-coefficient
    numerator, the classic webgraph link-farm signal next to PageRank.

    Node-iterator join with the canonical u < v < w ordering so every
    triangle materializes exactly ONCE: e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w) as
    a left-semi closing-edge probe.  Both joins are equi-joins on a
    node key.  At web scale the standard degree-ordering refinement
    (orient edges low-degree → high-degree) bounds the wedge fan-out;
    domain graphs are host-sized, so the canonical order suffices and
    is stated."""
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    tri = e1.join(e2, "b").join(
        e3,
        (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def _colink_edges(docs: DataFrame) -> DataFrame:
    """Derived co-link graph over the source domains: node k (the
    source number) connects to k+1, k+2 and k+(k%4)+3 (mod n_sources) —
    a circulant with node-dependent chords, so triangle membership
    VARIES per node (45 triangles, counts 5/6/8 on the 20-source
    fixture)."""
    ks = docs.select(
        F.expr("CAST(substr(source, 4) AS INT)").alias("k")
    ).distinct()
    nsrc = ks.count()
    offs = ks.select(
        "k",
        F.explode(
            F.array(F.lit(1), F.lit(2), (F.col("k") % 4 + 3))
        ).alias("d"),
    )
    pairs = offs.select(
        F.concat(F.lit("h"), F.col("k")).alias("x"),
        F.concat(F.lit("h"), (F.col("k") + F.col("d")) % nsrc).alias("y"),
    ).filter(F.col("x") != F.col("y"))
    return pairs.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
    ).distinct()


@check(
    "domain_triangles",
    oracle="""
        WITH ks AS (
            SELECT DISTINCT CAST(substr(source, 4) AS INT) AS k
            FROM documents),
        n AS (SELECT COUNT(*) AS n FROM ks),
        offs AS (
            SELECT k, unnest([1, 2, (k % 4) + 3]) AS d FROM ks),
        pairs AS (
            SELECT 'h' || k AS x,
                   'h' || ((k + d) % (SELECT n FROM n)) AS y
            FROM offs),
        und AS (
            SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
            FROM pairs WHERE x <> y),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e2.u = e1.v
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        members AS (
            SELECT a AS domain FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM members GROUP BY domain ORDER BY domain""",
)
def q_domain_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-host triangle membership over the derived co-link
    graph — each u<v<w triangle counted once, exploded to its corners
    (counts must vary 5/6/8 across the 20 hosts)."""
    from dronedb_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    return triangle_counts(_colink_edges(docs)).orderBy("domain")


# ------------------------------------------------ connected components --

N_CC_ITER = 8


def components_over_edges(und: DataFrame, n_iter: int = N_CC_ITER) -> DataFrame:
    """(domain, component): connected components by min-label
    propagation over an undirected (u < v) edge table — the third
    member of the webgraph family (PageRank ranks, triangles flag link
    farms, components partition the crawl into isolated clusters for
    per-cluster curation and mirror detection).

    Each superstep every node takes the MIN of its own label and its
    neighbors' (string min — bit-deterministic, no float anywhere);
    after K supersteps every node within K hops of its component's
    minimum has converged, the Pregel/HashMin DataFrame shape.  K is
    fixed so the plan is static and the oracle an unrolled CTE chain;
    per-superstep ``localCheckpoint`` truncates lineage exactly as the
    PageRank loop does (measured 2× there).  At web scale the standard
    refinement is large-star/small-star (fewer rounds on high-diameter
    graphs); host graphs have tiny diameters and the plain HashMin
    superstep is the honest, shuffle-minimal choice."""
    from dronedb_spark.tables import barrier_persist

    edges = barrier_persist(
        und.select("u", "v").union(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    nodes = edges.select(F.col("u").alias("domain")).distinct().localCheckpoint()
    labels = nodes.select("domain", F.col("domain").alias("component"))
    for _ in range(n_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("domain", "v"), "v")
            .select(F.col("u").alias("domain"), "component")
            .groupBy("domain")
            .agg(F.min("component").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, "domain", "left")
            .select(
                "domain",
                F.least(
                    "component", F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
    return labels


def _partitioned_edges(docs: DataFrame) -> DataFrame:
    """Derived multi-component host graph: node k connects to k+4 and
    k+8 (mod n) — with 4 | n the graph splits into exactly gcd(4, n)
    residue-class components (4 components of 5 on the 20-source
    fixture)."""
    ks = docs.select(
        F.expr("CAST(substr(source, 4) AS INT)").alias("k")
    ).distinct()
    nsrc = ks.count()
    offs = ks.select(
        "k", F.explode(F.array(F.lit(4), F.lit(8))).alias("d")
    )
    pairs = offs.select(
        F.concat(F.lit("h"), F.col("k")).alias("x"),
        F.concat(F.lit("h"), (F.col("k") + F.col("d")) % nsrc).alias("y"),
    ).filter(F.col("x") != F.col("y"))
    return pairs.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
    ).distinct()


def _cc_oracle() -> str:
    steps = []
    prev = "l0"
    for i in range(1, N_CC_ITER + 1):
        steps.append(f"""
        l{i} AS (
            SELECT n.domain,
                   least(p.component,
                         COALESCE(m.nbr_min, p.component)) AS component
            FROM nodes n
            JOIN {prev} p ON p.domain = n.domain
            LEFT JOIN (
                SELECT e.u AS domain, MIN(p2.component) AS nbr_min
                FROM bedges e JOIN {prev} p2 ON p2.domain = e.v
                GROUP BY e.u) m ON m.domain = n.domain)""")
        prev = f"l{i}"
    chain = ",".join(steps)
    return f"""
        WITH ks AS (
            SELECT DISTINCT CAST(substr(source, 4) AS INT) AS k
            FROM documents),
        n AS (SELECT COUNT(*) AS n FROM ks),
        offs AS (SELECT k, unnest([4, 8]) AS d FROM ks),
        pairs AS (
            SELECT 'h' || k AS x,
                   'h' || ((k + d) % (SELECT n FROM n)) AS y
            FROM offs),
        und AS (
            SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
            FROM pairs WHERE x <> y),
        bedges AS (
            SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und),
        nodes AS (SELECT DISTINCT u AS domain FROM bedges),
        l0 AS (SELECT domain, domain AS component FROM nodes),
        {chain}
        SELECT f.domain, f.component,
               CAST(COUNT(*) OVER (PARTITION BY f.component) AS BIGINT)
                   AS component_size
        FROM {prev} f ORDER BY f.domain"""


@check("domain_components", oracle=_cc_oracle())
def q_domain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashMin connected components over the derived 4-component host
    graph: every host labeled with its component's lexicographic-min
    member plus the component size (must come back 4 × 5 hosts)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    labels = components_over_edges(_partitioned_edges(docs))
    return labels.select(
        "domain",
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("bigint")
        .alias("component_size"),
    ).orderBy("domain")


# ------------------------------------------------------------------ HITS


N_HITS_ITER = 4


def hits_over_edges(edge_table: DataFrame, n_iter: int = N_HITS_ITER) -> DataFrame:
    """(domain, hub, authority): Kleinberg's HITS (JACM 1999) over any
    (src, dst, w) edge table, INTEGERIZED like the PageRank above so
    every engine and partitioning produces bit-identical scores:

        a'(v) = Σ_{u→v} w · h(u)        then  a = a'·SCALE DIV Σa'
        h'(u) = Σ_{u→v} w · a(v)        then  h = h'·SCALE DIV Σh'

    Truncating integer normalization replaces the usual L2 norm — the
    ORDER of hubs/authorities is what the curation gate consumes, and
    DIV keeps it deterministic (the PageRank self-loop tradeoff,
    restated).  Superstep discipline: edge table behind the CSE
    barrier, per-iteration localCheckpoint."""
    from dronedb_spark.tables import barrier_persist

    edges = barrier_persist(edge_table.select("src", "dst", "w"))
    doms = (
        edges.select(F.col("src").alias("domain"))
        .union(edges.select(F.col("dst").alias("domain")))
        .distinct()
        .localCheckpoint()
    )
    base = SCALE // doms.count()
    hubs = doms.select("domain", F.lit(base).cast("bigint").alias("h"))
    auths = None
    # r13 optimization: checkpoint the RAW per-phase aggregate (it was
    # referenced twice — the normalization total and the spine join —
    # so each phase's edges⋈scores aggregation ran twice), and collect
    # the normalization total as a driver SCALAR riding in as a literal
    # (a bounded collect) instead of a broadcast-build job per phase.
    # Measured 2.63 s → 2.38 s at sf0.1, identical scores.
    for _ in range(n_iter):
        a_raw = (
            edges.join(hubs.withColumnRenamed("domain", "src"), "src")
            .select(F.col("dst").alias("domain"), (F.col("w") * F.col("h")).alias("c"))
            .groupBy("domain")
            .agg(F.sum("c").cast("bigint").alias("a_raw"))
        ).localCheckpoint()
        a_tot = a_raw.agg(F.sum("a_raw").alias("t")).collect()[0]["t"]
        # empty graph ⇒ SUM is NULL: interpolate a typed NULL so the
        # DIV degrades to NULL scores like the pre-r13 column form did,
        # instead of emitting the unparseable literal ``None`` (ADVICE)
        a_tot = "CAST(NULL AS BIGINT)" if a_tot is None else a_tot
        auths = (
            doms.join(a_raw, "domain", "left")
            .select(
                "domain",
                F.expr(
                    f"CAST((CAST(coalesce(a_raw, 0L) AS DECIMAL(38,0))"
                    f" * {SCALE}) DIV {a_tot} AS BIGINT)"
                ).alias("a"),
            )
        )
        h_raw = (
            edges.join(auths.withColumnRenamed("domain", "dst"), "dst")
            .select(F.col("src").alias("domain"), (F.col("w") * F.col("a")).alias("c"))
            .groupBy("domain")
            .agg(F.sum("c").cast("bigint").alias("h_raw"))
        ).localCheckpoint()
        h_tot = h_raw.agg(F.sum("h_raw").alias("t")).collect()[0]["t"]
        h_tot = "CAST(NULL AS BIGINT)" if h_tot is None else h_tot
        hubs = (
            doms.join(h_raw, "domain", "left")
            .select(
                "domain",
                F.expr(
                    f"CAST((CAST(coalesce(h_raw, 0L) AS DECIMAL(38,0))"
                    f" * {SCALE}) DIV {h_tot} AS BIGINT)"
                ).alias("h"),
            )
        )
    return hubs.join(auths, "domain").select(
        "domain", F.col("h").alias("hub"), F.col("a").alias("authority")
    )


def _hits_oracle() -> str:
    head = """
        d AS (SELECT doc_id, source || '/d' || CAST((doc_id * doc_id) % 10
                  AS VARCHAR) AS domain
              FROM documents),
        n AS (SELECT COUNT(*) AS n FROM d),
        links AS (
            SELECT a.domain AS src, b.domain AS dst
            FROM d a JOIN d b
              ON b.doc_id = (a.doc_id * a.doc_id + 3) % (SELECT n FROM n)),
        edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
                  FROM links GROUP BY src, dst),
        doms AS (SELECT DISTINCT domain FROM (
                     SELECT src AS domain FROM edges
                     UNION ALL SELECT dst FROM edges) u),
        dc AS (SELECT COUNT(*) AS d FROM doms),
        h0 AS (SELECT domain,
                      CAST(1000000000000 // (SELECT d FROM dc) AS BIGINT) AS h
               FROM doms)"""
    # every per-step CTE is MATERIALIZED: each is referenced twice (the
    # join + the normalization total), and DuckDB's default inlining
    # re-expands the whole chain per reference — exponential in the
    # iteration count (the pagerank oracle gets away without it because
    # each r{k} is referenced exactly once)
    steps = []
    for k in range(N_HITS_ITER):
        steps.append(f"""
        ar{k + 1} AS MATERIALIZED (
            SELECT e.dst AS domain, CAST(SUM(e.w * h.h) AS BIGINT) AS a_raw
            FROM edges e JOIN h{k} h ON h.domain = e.src GROUP BY e.dst),
        a{k + 1} AS MATERIALIZED (
            SELECT dm.domain,
                   CAST(CAST(COALESCE(ar.a_raw, 0) AS HUGEINT) * 1000000000000
                        // (SELECT SUM(a_raw) FROM ar{k + 1}) AS BIGINT) AS a
            FROM doms dm LEFT JOIN ar{k + 1} ar ON ar.domain = dm.domain),
        hr{k + 1} AS MATERIALIZED (
            SELECT e.src AS domain, CAST(SUM(e.w * a.a) AS BIGINT) AS h_raw
            FROM edges e JOIN a{k + 1} a ON a.domain = e.dst GROUP BY e.src),
        h{k + 1} AS MATERIALIZED (
            SELECT dm.domain,
                   CAST(CAST(COALESCE(hr.h_raw, 0) AS HUGEINT) * 1000000000000
                        // (SELECT SUM(h_raw) FROM hr{k + 1}) AS BIGINT) AS h
            FROM doms dm LEFT JOIN hr{k + 1} hr ON hr.domain = dm.domain)""")
    return (
        "WITH " + head + "," + ",".join(steps)
        + f"""
        SELECT h.domain, h.h AS hub, a.a AS authority
        FROM h{N_HITS_ITER} h JOIN a{N_HITS_ITER} a ON a.domain = h.domain
        ORDER BY h.domain"""
    )


def hits_domain_edges(docs: DataFrame) -> DataFrame:
    """(src, dst, w): the HITS fixture graph — each doc links to doc
    ``(doc_id² + 3) mod N``.  Unlike the PageRank permutation rule this
    map COLLIDES (quadratic residues), so in-degree varies and the
    hub/authority scores separate — a uniform-output implementation bug
    cannot pass (the permutation graph is vertex-transitive and HITS is
    provably uniform on it, which made the check vacuous)."""
    d = with_domain(docs).select("doc_id", "domain")
    n = d.count()
    links = d.select(
        F.col("domain").alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 3) % n).alias("dst_doc"),
    )
    dst = d.select(F.col("doc_id").alias("dst_doc"), F.col("domain").alias("dst"))
    return links.join(dst, "dst_doc").groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )


@check("domain_hits", small=True, oracle=_hits_oracle())
def q_domain_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four integerized HITS iterations over the colliding-map domain
    graph — hub and authority scores bit-exact vs the unrolled-CTE
    oracle, and non-uniform by construction."""
    docs = load(spark, sf_dir, "documents")
    return hits_over_edges(hits_domain_edges(docs)).orderBy("domain")
