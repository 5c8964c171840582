"""Corpus-structure analytics: duplicate-graph topology, content
novelty, mutual k-NN graphs, and posting-list skew.

These are the reports a data-curation team runs AFTER the dedup /
similarity machinery (training_data.py, corpus_ops.py, ann_twins.py)
to understand what the corpus looks like — how clustered the duplicate
graph is, how fast novel content decays across a crawl, how connected
the embedding space is, and how skewed the shingle posting lists are
(the statistic that motivates the exact-collapse step in _dup_edges).

Every query is hash-gated: graph counts are exact BIGINTs, ratios are
single divisions of exact integers, and cosines ride the FLOOR(x*1000)
integer grid (ann_twins), so DuckDB replays each report bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nemscraper_spark.queries.ann_twins import _int_grid
from nemscraper_spark.queries.common import (
    fan_out,
    load_table,
    pairwise_cosine9,
    register,
)
from nemscraper_spark.queries.training_data import (
    _SHINGLE_SQL,
    _lsh_md5_cand_sql,
    _LSH_JACCARD_TAIL,
    _shingle_frame,
    lsh_verified_pairs_md5,
)

# ------------------------------------------------ triangle density --

# Edges = the production-geometry md5-LSH verified pairs (16 perms, 4
# bands of 4, Jaccard >= 0.2) — the same pipeline the dedup primaries
# hash-gate, nested here as a derived-table CTE.
_TRI_SQL = f"""
    WITH edges AS (
      {_lsh_md5_cand_sql(16, 4)}
      {_LSH_JACCARD_TAIL.format(t=0.2)}
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.doc_a = e1.doc_b
      JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS d
      FROM (
        SELECT doc_a AS doc_id FROM edges
        UNION ALL
        SELECT doc_b AS doc_id FROM edges
      )
      GROUP BY doc_id
    ),
    dagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    eagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
    SELECT e.n_edges, d.n_nodes, t.n_triangles, d.n_wedges,
           CAST(3 * t.n_triangles AS DOUBLE) / NULLIF(d.n_wedges, 0)
             AS global_clustering
    FROM eagg e, dagg d, tri t
"""


def _dup_graph_edges(spark, sf_dir):
    """The (doc_a, doc_b) verified near-dup edge list at the
    production geometry (md5-LSH 16/4, Jaccard >= 0.2) — the graph
    both dup_triangle_density and dup_graph_core_peel analyze.
    Registered in the shared trunk registry (r11): previously
    dup_triangle_density persisted a fresh unregistered copy per
    CALL — repeated calls (the bench's 3 repeats) each pinned a new
    frame no clear hook could release — and the two graph queries
    rebuilt the same edge set independently.  The persist matters
    because the downstream branches (two triangle joins + degree
    aggregates / peel rounds) would each re-run the whole LSH
    pipeline through Spark's lazy lineage.  (NOT localCheckpoint:
    the RDD materialization path bypasses AQE — measured 5.8 s vs
    2.4 s for the triangle pipeline; persist_trunk_adaptive lets AQE
    size the cached plan, measured 4.1 s vs 2.0 s warm at 200 raw
    partitions in a foreign driver session.)"""
    from nemscraper_spark.queries.trunk_cache import norm_dir, trunk

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return trunk(
        "dup_graph_edges",
        (spark.sparkContext.applicationId, norm_dir(sf_dir)),
        lambda: lsh_verified_pairs_md5(
            d, threshold=0.2, n_perm=16, band_size=4
        ).select("doc_a", "doc_b"),
    )


@register("dup_triangle_density", oracle=_TRI_SQL, tags=("dedup", "graph"))
def dup_triangle_density(spark, sf_dir):
    """Topology of the near-duplicate graph: triangle count, wedge
    count, and the global clustering coefficient (3·triangles/wedges)
    over the production-geometry md5-LSH verified pairs.  A dup graph
    whose components are dense cliques (coefficient → 1) collapses
    safely to one canonical doc per component; a stringy low-density
    graph means transitive closure is chaining NON-duplicates through
    borderline pairs and the Jaccard threshold is too low — this
    report is how that call gets made before committing a keep-list.

    Triangles enumerate via the oriented edge-edge join (doc_a <
    doc_b everywhere, so each triangle counts exactly once) — the
    standard distributed algorithm: both joins key on a doc id, never
    a cross product, and the edge set is the (sparse) verified dup
    pairs.  Wedges come from the degree aggregate: Σ d·(d−1)/2 over
    nodes.  All counts exact BIGINT; the coefficient is one division."""
    edges = _dup_graph_edges(spark, sf_dir)
    e2 = edges.select(
        F.col("doc_a").alias("doc_b"), F.col("doc_b").alias("doc_c")
    )
    e3 = edges.select(
        F.col("doc_a").alias("doc_a"), F.col("doc_b").alias("doc_c")
    )
    tri = (
        edges.join(e2, "doc_b")
        .join(e3, ["doc_a", "doc_c"], "left_semi")
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("d"))
    )
    dagg = deg.agg(
        F.expr("CAST(SUM(d) div 2 AS BIGINT)").alias("n_edges"),
        F.count("*").alias("n_nodes"),
        F.expr("CAST(SUM(d * (d - 1)) div 2 AS BIGINT)").alias("n_wedges"),
    )
    return dagg.crossJoin(F.broadcast(tri)).select(
        "n_edges",
        "n_nodes",
        "n_triangles",
        "n_wedges",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.nullif(F.col("n_wedges"), F.lit(0).cast("long"))
        ).alias("global_clustering"),
    )


# -------------------------------------------------- novelty decay --

_NOVELTY_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f ON f.shingle = s.shingle
      GROUP BY s.doc_id
    ),
    mx AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS m FROM documents)
    SELECT CAST(CAST(p.doc_id AS BIGINT) * 10 // mx.m AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CAST(SUM(n_novel) AS DOUBLE) / SUM(n_sh) AS novelty_ratio
    FROM per_doc p, mx
    GROUP BY 1, mx.m
"""


@register("ngram_novelty_curve", oracle=_NOVELTY_SQL, tags=("quality",))
def ngram_novelty_curve(spark, sf_dir):
    """Novelty-decay curve of a crawl: per doc-id decile, the fraction
    of word-3-gram shingles first seen in that doc (MIN(doc_id) over
    the corpus assigns each shingle to its earliest document).  As a
    crawl matures this curve collapses — most new pages re-say what the
    corpus already holds — and the knee is where continued crawling
    stops buying training signal; the same statistic ranks SOURCES by
    marginal value when computed per feed.

    One shuffle keyed by shingle for the first-occurrence aggregate
    (map-side combinable MIN), one equi-join back (hot boilerplate
    shingles are AQE skew-splittable), one doc-keyed aggregate, and the
    decile rollup is 10 rows.  Ratios are single divisions of exact
    BIGINT counts."""
    sh = _shingle_frame(fan_out(load_table(spark, sf_dir, "documents")))
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    mx = (
        load_table(spark, sf_dir, "documents")
        .agg((F.max("doc_id") + 1).cast("long").alias("m"))
    )
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr("CAST(CAST(doc_id AS BIGINT) * 10 div m AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            (
                F.sum("n_novel").cast("double") / F.sum("n_sh")
            ).alias("novelty_ratio"),
        )
    )


# ----------------------------------------------- mutual k-NN graph --

_KNN_SUBSET = 256  # bounded batch: constant work at every sf
_KNN_K = 5

_MUTUAL_KNN_SQL = f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000)) AS e
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, e, list_dot_product(e, e) AS nrm
      FROM iv
      WHERE vec_id < {_KNN_SUBSET} AND list_dot_product(e, e) > 0
    ),
    pr AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             ROUND(list_dot_product(a.e, b.e)
                   / (sqrt(a.nrm) * sqrt(b.nrm)), 9) AS cosine
      FROM sub a JOIN sub b ON b.vec_id <> a.vec_id
    ),
    rk AS (
      SELECT src, dst, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rk
      FROM pr
    ),
    knn AS (SELECT * FROM rk WHERE rk <= {_KNN_K})
    SELECT x.src, x.dst, x.cosine,
           x.rk AS rk_ab, y.rk AS rk_ba
    FROM knn x
    JOIN knn y ON y.src = x.dst AND y.dst = x.src
    WHERE x.src < x.dst
"""


@register("mutual_knn_graph", oracle=_MUTUAL_KNN_SQL, tags=("similarity",))
def mutual_knn_graph(spark, sf_dir):
    """Mutual k-NN graph over a bounded embedding batch: edges where
    BOTH endpoints rank the other in their top-5 by cosine — the
    symmetrized graph density-based clustering and SemDeDup-style
    outlier pruning build on (a vector none of whose neighbours
    reciprocate is an outlier; a mutual clique is a semantic cluster).
    Reported per edge with both ranks, so the asymmetry (rk_ab vs
    rk_ba) is visible.

    Exact integer-grid cosine (ann_twins' FLOOR(x*1000) grid) makes
    every dot a bigint and the final round-9 cosine deterministic, so
    the whole graph hash-matches DuckDB.  The batch is fixed at
    256 vectors — constant work at any corpus size; at
    production scale per-node candidate lists come from the ANN
    family's LSH/IVF bucketing and this query pins the downstream
    mutual-filter logic exactly.  Zero-norm vectors are dropped on
    both sides (divide-by-zero diverges across engines)."""
    e = _int_grid(spark, sf_dir)
    # Zero-norm filter via a HOF (cheap on 256 rows); the pair cosines
    # run through the shared Arrow kernel — a flat 64-term JVM dot
    # would be bit-identical but costs seconds of janino recompilation
    # per invocation (see pairwise_cosine9's rationale). Integer grid
    # values are exact in float64, so the numpy accumulate is
    # order-free and matches DuckDB's list_dot_product.
    sub = e.filter(F.col("vec_id") < _KNN_SUBSET).filter(
        F.expr("aggregate(e, 0L, (acc, x) -> acc + x * x) > 0")
    )
    a = sub.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
    b = sub.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"))
    pr = pairwise_cosine9(
        F.broadcast(a).join(b, F.col("query_id") != F.col("neighbor_id"))
    ).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cosine",
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    knn = pr.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KNN_K
    )
    back = knn.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.col("rk").alias("rk_ba"),
    )
    return (
        knn.join(back, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "cosine", F.col("rk").alias("rk_ab"), "rk_ba")
    )


# ---------------------------------------- posting-list skew report --

# Shared log2 document-frequency bucket: an unrolled integer CASE, the
# identical literal expression on both engines (float LOG2 rounds
# differently at exact powers of two — the length_bucket lesson).
_DF_BUCKET_CASE = (
    "CASE "
    + " ".join(
        f"WHEN df >= {1 << b} THEN {b}" for b in range(20, 0, -1)
    )
    + " ELSE 0 END"
)

_DF_HIST_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfreq AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    ),
    tot AS (SELECT CAST(SUM(df) AS BIGINT) AS postings FROM dfreq)
    SELECT CAST({_DF_BUCKET_CASE} AS BIGINT) AS df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(df) AS DOUBLE) / t.postings AS posting_share
    FROM dfreq, tot t
    GROUP BY 1, t.postings
"""


@register("shingle_df_histogram", oracle=_DF_HIST_SQL, tags=("dedup",))
def shingle_df_histogram(spark, sf_dir):
    """Posting-list skew of the shingle inverted index: shingles
    bucketed by log2(document frequency), with each bucket's share of
    total postings.  This is the statistic that decides the dedup
    plan: a heavy top bucket means boilerplate shingles whose posting
    lists square under a naive self-join — the measured motivation for
    _dup_edges' exact-collapse step and for AQE skew-join on the
    inverted index.  Run per source, it also flags template-heavy
    feeds before they hit the join.

    One map-side-combinable groupBy(shingle) and a 20-row rollup; the
    bucket is an unrolled integer CASE (identical literal expression
    in both engines — float LOG2 disagrees at exact powers of two).
    Share is a single division of exact BIGINTs."""
    sh = _shingle_frame(fan_out(load_table(spark, sf_dir, "documents")))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    tot = dfreq.agg(F.sum("df").cast("long").alias("postings"))
    return (
        dfreq.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr(f"CAST({_DF_BUCKET_CASE} AS BIGINT)").alias("df_bucket"),
            "postings",
        )
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            (F.sum("df").cast("double") / F.col("postings")).alias(
                "posting_share"
            ),
        )
        .drop("postings")
    )


# ------------------------------------- cross-doc duplication share --

_CROSS_DUP_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfreq AS (
      SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS shared_frac
    FROM sh s JOIN dfreq d ON d.shingle = s.shingle
    GROUP BY s.doc_id
"""


@register("doc_cross_dup_fraction", oracle=_CROSS_DUP_SQL, tags=("dedup", "quality"))
def doc_cross_dup_fraction(spark, sf_dir):
    """Per-document CROSS-corpus duplication share: the fraction of a
    doc's distinct word-3-gram shingles that appear in at least one
    OTHER document.  This is the document-level scalar behind
    ExactSubstr-style span dedup (dup_passage_spans finds WHERE the
    overlap lives; this scores HOW MUCH of each doc is secondhand) and
    the standard "mostly-duplicated page" drop rule: filter
    shared_frac >= 0.8 before any pairwise machinery runs, removing
    mirror/template pages for the cost of one aggregate + one
    equi-join.  Complements doc_repetition_score (INTRA-doc repetition)
    — a page can be internally pristine yet 100% copied.

    Same plan skeleton as ngram_novelty_curve: shingle-keyed
    document-frequency aggregate (map-side-combinable COUNT), equi-join
    back on shingle (AQE skew-splittable for boilerplate shingles),
    doc-keyed rollup.  Shingles are distinct per doc, so df >= 2 is
    exactly "appears in >= 2 distinct docs" with no COUNT(DISTINCT).
    Counts exact BIGINTs; the fraction is a single division."""
    sh = _shingle_frame(fan_out(load_table(spark, sf_dir, "documents")))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
            (
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("shared_frac"),
        )
    )


# ------------------------------------------------- 2-core peeling --

def _core_peel_sql() -> str:
    """WITH-chain oracle for three unrolled 2-core peel rounds over
    the md5-LSH verified-pair edge set (same edges CTE as _TRI_SQL)."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous one 3x — inlining would expand
    # e3 into 27 copies of the whole LSH pipeline (observed: the
    # oracle ground >12 min; materialized it is sub-second), the exact
    # blowup localCheckpoint prevents on the Spark side.
    ctes = [
        f"""edges AS MATERIALIZED (
      {_lsh_md5_cand_sql(16, 4)}
      {_LSH_JACCARD_TAIL.format(t=0.2)}
    )""",
        "e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM edges)",
    ]
    for r in (1, 2, 3):
        p = r - 1
        ctes.append(
            f"""d{r} AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dg
      FROM (SELECT doc_a AS doc_id FROM e{p}
            UNION ALL SELECT doc_b AS doc_id FROM e{p})
      GROUP BY doc_id
    )"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
      SELECT e.doc_a, e.doc_b
      FROM e{p} e
      JOIN d{r} a ON a.doc_id = e.doc_a AND a.dg >= 2
      JOIN d{r} b ON b.doc_id = e.doc_b AND b.dg >= 2
    )"""
        )
    rounds = []
    for r in (0, 1, 2, 3):
        rounds.append(
            f"""SELECT CAST({r} AS BIGINT) AS peel_round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM e{r}
                UNION ALL SELECT doc_b AS doc_id FROM e{r}))) AS n_nodes"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(rounds)


@register("dup_graph_core_peel", oracle=_core_peel_sql(), tags=("dedup", "graph"))
def dup_graph_core_peel(spark, sf_dir):
    """2-core peeling trajectory of the near-dup graph: three unrolled
    rounds of "drop degree-<2 nodes, drop their edges", reporting
    (edges, nodes) after each round.  The 2-core is what's left after
    all chains and pendant vertices peel away — dup CLUSTERS worth
    canonical-collapse live there, while the peeled fringe is
    borderline pairs that transitive closure would wrongly chain
    (complements dup_triangle_density: that measures density, this
    measures how much of the graph is STRUCTURE vs fringe).  A
    stabilized trajectory (round 3 == round 2) certifies the 2-core
    converged; like pagerank_event_graph, the fixed unroll puts the
    whole ITERATIVE loop behind the hash gate.

    Each round is one degree aggregate (map-side combinable) + two
    semi joins on the (sparse) edge list.  Rounds 1-2's edges are
    localCheckpoint'ed — the components.py iteration pattern: every
    round references the previous edge set THREE times (degree
    aggregate + both semi joins), so without severing lineage the
    logical plan grows ~4^r copies of the whole LSH pipeline and
    Catalyst itself OOMs (observed at round 3); with it, each round
    plans against the materialized previous round only.  Round 0 is
    the persisted dup_graph_edges trunk itself (NOT re-checkpointed —
    r12: the r11 checkpoint-on-top-of-persist double-materialized the
    edge set; InMemoryRelation substitution severs the plan just as
    well).  Round 3 is NOT checkpointed — nothing downstream
    re-references it, so its single fused count action computes it
    exactly once anyway.  Each round's (n_edges, n_nodes) is ONE
    aggregate action over the unioned endpoint list (count/2 +
    countDistinct), not separate count() + distinct().count() jobs:
    6 jobs total per invocation warm (2 eager checkpoints + 4 fused
    counts) vs the 12 the round-6 bench measured at 5.9 s."""

    def _ckpt_id(df):
        # the RDD a localCheckpoint persists (components.py pattern);
        # None on unknown plan shape = leak the blocks, never guess.
        # tests/test_corpus_graph_actions.py asserts this resolves
        # non-None on a checkpointed frame (a silent None here would
        # make every unpersist below a no-op and leak blocks).
        try:
            return int(df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:
            return None

    def _round_stats(edges):
        # one job: each edge contributes both endpoints, so the union
        # has exactly 2*n_edges rows and n_nodes distinct doc_ids
        row = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
            .agg(
                (F.count("*") / 2).cast("long").alias("e"),
                F.countDistinct("doc_id").alias("n"),
            )
            .first()
        )
        return int(row["e"]), int(row["n"])

    # Round-0 edges are the shared dup_graph_edges trunk read DIRECTLY
    # (r12).  The r11 form stacked localCheckpoint(eager) on top of the
    # trunk's persist — a SECOND full materialization of the edge set
    # on the cold path and a fresh checkpoint copy on every warm
    # invocation (driver-measured 1.93 -> 4.30 s).  The persisted trunk
    # already gives the peel what that checkpoint gave it: CacheManager
    # substitutes InMemoryRelation before the optimizer runs, so round
    # 1's three references to `cur` each compile to an
    # InMemoryTableScan, not three re-runs of the LSH pipeline — the
    # 4^r lineage blowup only starts at round 1, and rounds 1-2 are
    # still checkpointed below.
    cur = _dup_graph_edges(spark, sf_dir)
    ckpt_ids = []
    stats = []
    for r in (0, 1, 2, 3):
        if r > 0:
            deg = (
                cur.select(F.col("doc_a").alias("doc_id"))
                .unionAll(cur.select(F.col("doc_b").alias("doc_id")))
                .groupBy("doc_id")
                .agg(F.count("*").alias("dg"))
            )
            keep = deg.filter(F.col("dg") >= 2).select("doc_id")
            cur = cur.join(
                keep.withColumnRenamed("doc_id", "doc_a"),
                "doc_a",
                "left_semi",
            ).join(
                keep.withColumnRenamed("doc_id", "doc_b"),
                "doc_b",
                "left_semi",
            ).select("doc_a", "doc_b")
            if r < 3:  # round 3 is terminal: counted once, never reused
                cur = cur.localCheckpoint(eager=True)
                ckpt_ids.append(_ckpt_id(cur))
        n_edges, n_nodes = _round_stats(cur)
        stats.append((r, n_edges, n_nodes))
    # the result is a driver-built frame — nothing downstream reads the
    # checkpointed edge sets, so free ALL their blocks now (otherwise a
    # long-lived session accumulates 2 peel-round copies per
    # invocation; the round-0 trunk persist is session-scoped and
    # released by trunk_cache — on a corpus rewrite or at teardown —
    # never here)
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ckpt_ids:
        if rid is not None:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)
    return spark.createDataFrame(
        stats, "peel_round long, n_edges long, n_nodes long"
    )
