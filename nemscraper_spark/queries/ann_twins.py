"""Deterministic cross-engine twins for the ANN family (§2-extra:
similarity search) + the sketch profiler.

The production ANN queries (training_data.ann_*) rank by float cosine /
L2 built from numpy GEMMs whose accumulation order differs from any SQL
replay, so the driver can only rows-check them.  These twins pin the
SAME algorithms — LSH hyperplane bucketing with multi-probe, IVF
inverted lists with nprobe=2, PQ codebook encode + asymmetric-distance
scoring, and the IVF-PQ residual composite — under the md5-twin pattern
that already proved out for MinHash (training_data.minhash_*_md5):

- every data-dependent artifact (hyperplane signs, centroid/codebook
  sample) derives from md5, reproducible in any engine;
- embeddings are quantized to an integer grid ``FLOOR(x * 1000)``, so
  every dot product / squared distance is EXACT integer arithmetic —
  partial sums stay far below 2^53, making the math order-independent
  and therefore bit-identical between Spark partial aggregation, numpy
  GEMM blocking, and DuckDB's sequential fold;
- the only float ops left (sqrt / divide / round in the final cosine)
  consume exact integers, so IEEE-754 determinism guarantees the same
  double on both engines.

The twins and the float paths run the same IVF/PQ/ADC code —
operators/ann.py (nearest centroid, Lloyd, PQ encode, ADC tables and
scoring, the top-5 window) — and differ only in the grid, the training
sample and the dtype they feed it.  The float paths stay registered
(rows-only + recall pins in tests/test_training_ops.py); these twins
are the correctness gate the driver can hash.  Reference parity: the
reference has no ANN surface (nemscraper is an ingest engine) — this
family is part of the training-data pipeline extension (FAISS IVF/PQ
layout re-expressed on DataFrames; Jégou et al., TPAMI'11 for PQ/ADC).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nemscraper_spark.operators.ann import (
    adc_tables,
    adc_top5,
    ivf_assign,
    ivf_pairs,
    lloyd,
    pq_encode,
    top5,
    train_pq,
)
from nemscraper_spark.queries.common import load_table, register

DIM = 64
GRID = 1000

# Integer-grid embeddings, shared by every oracle below.
_IV_SQL = f"""
    iv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * {GRID})) AS e
      FROM embeddings
    )
"""

# L2-normalized integer grid for the PQ twins (min-L2 ranking must
# equal max-cosine ranking, as in the production PQ path).  The norm is
# sqrt of an EXACT integer dot, so x*1000/norm is a fixed 3-op IEEE
# sequence — identical in both engines — and the re-floor lands on the
# same integer.  Zero-norm vectors (an all-zero grid row) are dropped
# on BOTH sides: x/0 is engine-dependent (DuckDB inf vs Spark null),
# and a zero vector has no direction to search by anyway.
_NIV_SQL = f"""
    iv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(e0,
                 x -> FLOOR(x * {GRID} / sqrt(list_dot_product(e0, e0)))) AS e
      FROM (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> FLOOR(x * {GRID})) AS e0
        FROM embeddings
      )
      WHERE list_dot_product(e0, e0) > 0
    )
"""


def _norm_grid(spark, sf_dir):
    """Spark twin of _NIV_SQL: int grid → L2-normalize → re-floor.
    Cached + persisted per (session, sf_dir) — every PQ-family query
    starts from this exact frame (see _cached_grid)."""
    return _cached_grid(spark, sf_dir, "norm", _build_norm_grid)


def _build_norm_grid(spark, sf_dir):
    e0 = _int_grid(spark, sf_dir).withColumnRenamed("e", "e0")
    qq = F.aggregate(
        F.zip_with(F.col("e0"), F.col("e0"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        e0.withColumn("qq", qq)
        .filter(F.col("qq") > 0)
        .select(
            "vec_id",
            F.expr(
                f"transform(e0, x -> FLOOR(CAST(x AS DOUBLE) * {GRID}"
                " / sqrt(CAST(qq AS DOUBLE))))"
            ).alias("e"),
        )
    )


# Exact-int cosine, rounded to 9dp: inputs are integer-valued doubles,
# so dot products are exact and sqrt/divide/round are single IEEE ops.
_COS9 = (
    "ROUND(list_dot_product({q}, {c})"
    " / (sqrt(list_dot_product({q}, {q})) * sqrt(list_dot_product({c}, {c}))), 9)"
)

_TOP5 = """
    SELECT query_id, neighbor_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5
"""

# md5-ordered deterministic sample: the first n vectors under
# md5(vec_id-as-string) ordering — an unbiased, engine-reproducible
# stand-in for the random training sample FAISS would draw.
_MD5_SAMPLE = (
    "SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)"
    " - 1 AS {idx}, e FROM iv"
    " ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n}"
)


# Grid frames and the bounded training samples drawn from them are
# identical for every ANN-family query in a session, so both are built
# ONCE per (application, sf_dir) and shared — re-deriving the grid and
# re-collecting the sample per query was ~20% of the family's combined
# bench time.  Keys are (applicationId, sf_dir, kind) STRINGS — never
# object ids, which can be reused after GC — and the grid's own key is
# attached to the cached DataFrame so the sample memoizers below only
# ever cache against an explicitly-keyed grid (any other frame
# bypasses the cache).  Entries live for the process (bounded: one
# persisted n×64-bigint frame + a few k×64 sample lists per
# (application, sf_dir) pair actually queried).
_GRID_CACHE: dict[tuple[str, str, str], object] = {}
_SAMPLE_CACHE: dict[tuple, list[list[int]]] = {}


def _cached_grid(spark, sf_dir, kind: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _GRID_CACHE.get(key)
    if df is None:
        from pyspark import StorageLevel

        df = build(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
        df._nemspark_grid_key = key
        _GRID_CACHE[key] = df
    return df


def _int_grid(spark, sf_dir):
    """embeddings → (vec_id, e: array<bigint>) on the FLOOR(x*1000)
    grid.  Matches the oracle's iv CTE value-for-value (Spark FLOOR
    returns BIGINT, DuckDB returns an integer-valued DOUBLE — all
    downstream arithmetic is exact either way).  Cached + persisted
    per (session, sf_dir)."""
    return _cached_grid(spark, sf_dir, "int", _build_int_grid)


def _build_int_grid(spark, sf_dir):
    from nemscraper_spark.queries.training_data import _emb_sized

    return _emb_sized(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * {GRID}))"
        ).alias("e"),
    )


def _md5_sample_rows(e, n: int):
    """First n (vec_id, e) rows under md5(vec_id) ordering — bounded
    collect (n ≪ corpus by construction: coarse-quantizer sizing keeps
    it broadcastable), the twin of _MD5_SAMPLE.  Memoized per cached
    grid frame (explicit grid key; other frames bypass the cache)."""
    gkey = getattr(e, "_nemspark_grid_key", None)
    key = None if gkey is None else ("md5", gkey, n)
    if key is not None and key in _SAMPLE_CACHE:
        return _SAMPLE_CACHE[key]
    rows = [
        [int(x) for x in r.e]
        for r in e.withColumn("r", F.md5(F.col("vec_id").cast("string")))
        .orderBy("r", "vec_id")
        .limit(n)
        .collect()
    ]
    if key is not None:
        _SAMPLE_CACHE[key] = rows
    return rows


def _id_sample_rows(e, n: int):
    """First n rows by vec_id — the PQ training sample (production's
    train-on-prefix recipe: the query vectors sit inside the sample by
    construction, which is what makes a K=16 codebook usable).  Bounded
    collect; at 100 TB this is the standard FAISS train-on-sample
    pattern with a deterministic sample.  Memoized per cached grid
    (explicit grid key; other frames bypass the cache)."""
    gkey = getattr(e, "_nemspark_grid_key", None)
    key = None if gkey is None else ("id", gkey, n)
    if key is not None and key in _SAMPLE_CACHE:
        return _SAMPLE_CACHE[key]
    rows = [
        [int(x) for x in r.e] for r in e.orderBy("vec_id").limit(n).collect()
    ]
    if key is not None:
        _SAMPLE_CACHE[key] = rows
    return rows


def _int_queries(e):
    """{vec_id: int64 vector} of the grid's query vectors (vec_id < 10)."""
    import numpy as np

    return {
        int(r.vec_id): np.asarray(r.e, dtype=np.int64)
        for r in e.filter(F.col("vec_id") < 10).collect()
    }


def _int_cos9():
    """Spark twin of _COS9 over the array<bigint> columns qe and ce:
    dot and norms are exact bigint aggregates, the double math is the
    oracle's op-for-op — dot / (sqrt(qq) * sqrt(cc)), rounded to 9dp."""

    def idot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    qq, cc = idot("qe", "qe").cast("double"), idot("ce", "ce").cast("double")
    return F.round(idot("qe", "ce").cast("double") / (F.sqrt(qq) * F.sqrt(cc)), 9)


def _cos_top5(pairs):
    """(query_id, qe, neighbor_id, ce) pairs → each query's top 5 by
    exact-int cosine (ties → lower neighbor_id)."""
    scored = pairs.select("query_id", "neighbor_id", _int_cos9().alias("cosine"))
    return top5(scored, "cosine", desc=True)


# ------------------------------------------------------------------ LSH --

# CTE chain shared by the LSH twin (top-5 result) and the recall
# report (same top-5 joined against the exact ranking).
_LSH_CTES = f"""
    {_IV_SQL},
    planes AS (
      SELECT p, list(s ORDER BY d) AS s FROM (
        SELECT pp.p, dd.d,
               CASE WHEN ascii(substr(md5(pp.p || '_' || dd.d), 1, 1)) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT unnest(generate_series(0, 3)) AS p) pp,
             (SELECT unnest(generate_series(0, {DIM - 1})) AS d) dd
      ) GROUP BY p
    ),
    ev AS (
      SELECT v.vec_id, ANY_VALUE(v.e) AS e,
             CAST(SUM(CASE WHEN list_dot_product(v.e, pl.s) > 0
                      THEN (1 << pl.p) ELSE 0 END) AS BIGINT) AS bucket
      FROM iv v, planes pl GROUP BY v.vec_id
    ),
    q AS (
      SELECT ev.vec_id AS query_id, ev.e AS qe,
             unnest([ev.bucket,
                     xor(ev.bucket, CAST(1 AS BIGINT)),
                     xor(ev.bucket, CAST(2 AS BIGINT)),
                     xor(ev.bucket, CAST(4 AS BIGINT)),
                     xor(ev.bucket, CAST(8 AS BIGINT))]) AS bucket
      FROM ev WHERE ev.vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_COS9.format(q="q.qe", c="c.e")} AS cosine
      FROM q JOIN ev c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
"""

_LSH_ORACLE = f"""
    WITH {_LSH_CTES}
    {_TOP5}
"""


@register("ann_lsh_cosine_md5", oracle=_LSH_ORACLE, tags=("similarity",))
def ann_lsh_cosine_md5(spark, sf_dir):
    """Hash-gated twin of ann_lsh_cosine: 4 md5-derived ±1 hyperplanes
    over the integer grid → 4-bit bucket, multi-probe (own bucket +
    every hamming-1 flip), exact-cosine re-rank top-5.  Signs use the
    same md5-parity rule as the production query; projections are
    integer sums, so the bucket assignment — the part LSH's recall
    depends on — is provably identical in both engines.  Scale shape
    unchanged: signature is a projection, candidates come from an
    equi-join on (bucket), never a cross join."""
    NBITS = 4
    e = _int_grid(spark, sf_dir)
    signs = [
        [
            1
            if ord(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0]) % 2 == 0
            else -1
            for d in range(DIM)
        ]
        for p in range(NBITS)
    ]

    def proj(p):
        arr = F.array(*[F.lit(s).cast("long") for s in signs[p]])
        return F.aggregate(
            F.zip_with(F.col("e"), arr, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bucket = None
    for p in range(NBITS):
        term = F.when(proj(p) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = term if bucket is None else bucket + term
    ev = e.select("vec_id", "e", bucket.alias("bucket"))

    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("long")
            for b in range(NBITS)
        ],
    )
    q = ev.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.explode(probe_buckets).alias("bucket"),
    )
    c = ev.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "bucket"
    )
    pairs = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _cos_top5(pairs)


_LSH_RECALL_ORACLE = f"""
    WITH {_LSH_CTES},
    lsh5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= 5
    ),
    ex5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_COS9.format(q="q.e", c="c.e")} DESC, c.vec_id)
                 AS rk
        FROM iv q JOIN iv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(l.neighbor_id) AS DOUBLE) / 5 AS recall
    FROM ex5 e
    LEFT JOIN lsh5 l
      ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
"""


@register("ann_lsh_recall_report", oracle=_LSH_RECALL_ORACLE, tags=("similarity",))
def ann_lsh_recall_report(spark, sf_dir):
    """The ANN QUALITY contract, hash-gated: per-query recall@5 of the
    LSH twin against the EXACT integer-grid cosine ranking, computed
    inside the engine (LSH top-5 left-joined to exact top-5, hit count
    per query).  Until now recall floors lived only in pytest; this
    query makes the driver hash the recall numbers themselves every
    round — if a bucketing change silently degrades search quality,
    the gate goes red even though the LSH result is still
    'correct LSH'.  The exact side is a 10-query brute-force pass
    (queries broadcast, corpus scanned once — the same bounded
    ground-truth sample a production recall monitor scores against a
    full scan or a golden set)."""
    lsh5 = ann_lsh_cosine_md5(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("hit_id")
    )
    e = _int_grid(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"))
    pairs = (
        F.broadcast(q)
        .join(c, q.query_id != c.neighbor_id)
    )
    ex5 = _cos_top5(pairs).select("query_id", "neighbor_id")
    j = ex5.join(
        lsh5,
        (ex5.query_id == lsh5.query_id) & (ex5.neighbor_id == lsh5.hit_id),
        "left",
    ).select(ex5.query_id, lsh5.hit_id)
    return j.groupBy("query_id").agg(
        F.count("hit_id").alias("n_hits"),
        (F.count("hit_id").cast("double") / F.lit(5)).alias("recall"),
    )


# ------------------------------------------------------------------ IVF --

_IVF_ORACLE = f"""
    WITH {_IV_SQL},
    cents AS ({_MD5_SAMPLE.format(idx="cid", n=8)}),
    asg AS MATERIALIZED (
      SELECT vec_id, e, cid, rnk FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.e, c.e) DESC, c.cid) AS rnk
        FROM iv v, cents c
      )
    ),
    lists AS (SELECT vec_id AS neighbor_id, e AS ce, cid FROM asg WHERE rnk = 1),
    probes AS (SELECT vec_id AS query_id, e AS qe, cid
               FROM asg WHERE rnk <= 2 AND vec_id < 10),
    scored AS (
      SELECT p.query_id, l.neighbor_id,
             {_COS9.format(q="p.qe", c="l.ce")} AS cosine
      FROM probes p JOIN lists l
        ON l.cid = p.cid AND l.neighbor_id <> p.query_id
    )
    {_TOP5}
"""


@register("ann_ivf_cosine_md5", oracle=_IVF_ORACLE, tags=("similarity",))
def ann_ivf_cosine_md5(spark, sf_dir):
    """Hash-gated twin of ann_ivf_cosine: coarse quantizer = 8 vectors
    drawn by md5(vec_id) order (the engine-reproducible stand-in for
    IVF's sampled training set; centroids are exact input vectors so
    no float averaging enters the artifact), max-int-dot assignment
    with ties → lower cid, nprobe=2 probe, exact-cosine re-rank.
    The corpus pass is one Arrow kernel (exact integer GEMM) + one
    broadcast equi-join on cid — the production plan shape."""
    import numpy as np

    e = _int_grid(spark, sf_dir)  # session-cached + persisted
    # integer-valued doubles: the float GEMM is exact
    C = np.asarray(_md5_sample_rows(e, 8), dtype=np.float64)
    return _cos_top5(ivf_pairs(ivf_assign(e, C)))


# ------------------------------------------------------------------- PQ --
#
# Both PQ twins train their codebooks with INTEGER Lloyd: the first
# 256 vectors by vec_id (production's train-on-prefix sample — the
# query vectors sit inside it), seeds = its first 16 rows, 2 rounds
# where the
# new entry is the elementwise FLOOR(sum/count) of the members (empty
# clusters keep their entry).  The IVF-PQ twin additionally
# Lloyd-trains its 8 coarse centroids (2 rounds, max-dot assignment) —
# raw-vector centroids make residuals LARGER than the inputs on
# near-orthogonal data (|x-c|^2 ~ 2|x|^2), collapsing residual-PQ
# recall; floor-mean centroids sit near the cluster mean and restore
# it (measured 0.04 -> 0.24 at sf0.01).  Every quantity stays an exact integer,
# so the training loop — normally the least replayable part of PQ — is
# reproduced verbatim by the generated SQL below, and recall recovers
# the production path's level (Lloyd-refined vs raw-sample codebooks).

TRAIN_N = 256
SEED_K = 16
M_SUB, SUB_DIM = 8, 8
PQ_ROUNDS = 2      # subspace-codebook Lloyd rounds
COARSE_ROUNDS = 2  # coarse-quantizer Lloyd rounds (IVF-PQ twin)


def _r_cols(src: str, comp) -> str:
    """SELECT list exposing the 64 vector components of `src` rows as
    flat r1..r64 columns (comp(i) -> component expression)."""
    return ", ".join(f"{comp(i)} AS r{i}" for i in range(1, 65))


def _cb_d2(a: str, b: str, m: int) -> str:
    """Exact-integer squared L2 between row a's subspace-m components
    (r{..} columns) and codebook row b (c1..c8 columns)."""
    return " + ".join(
        f"({a}.r{m * SUB_DIM + j} - {b}.c{j})"
        f" * ({a}.r{m * SUB_DIM + j} - {b}.c{j})"
        for j in range(1, SUB_DIM + 1)
    )


def _lloyd_ctes(m: int) -> str:
    """CTE chain for subspace m: seed codebook -> PQ_ROUNDS x (assign,
    floor-mean recenter).  Consumes CTE `strain` (sid, r1..r64)."""
    sub_cols = ", ".join(
        f"r{m * SUB_DIM + j} AS c{j}" for j in range(1, SUB_DIM + 1)
    )

    def recenter(prev: str, asn: str) -> str:
        cols = ", ".join(
            f"CASE WHEN COUNT(s.sid) = 0 THEN ANY_VALUE(b.c{j})"
            f" ELSE FLOOR(CAST(SUM(s.r{m * SUB_DIM + j}) AS DOUBLE)"
            f" / COUNT(s.sid)) END AS c{j}"
            for j in range(1, SUB_DIM + 1)
        )
        return (
            f"SELECT b.k, {cols} FROM {prev} b"
            f" LEFT JOIN {asn} a ON a.code = b.k"
            f" LEFT JOIN strain s ON s.sid = a.sid GROUP BY b.k"
        )

    def assign(prev: str) -> str:
        return (
            "SELECT sid, code FROM ("
            "SELECT s.sid, b.k AS code, ROW_NUMBER() OVER ("
            f"PARTITION BY s.sid ORDER BY {_cb_d2('s', 'b', m)}, b.k) AS rnk "
            f"FROM strain s, {prev} b) WHERE rnk = 1"
        )

    parts = [
        f"cb0_{m} AS MATERIALIZED (SELECT sid AS k, {sub_cols} FROM strain"
        f" WHERE sid < {SEED_K})"
    ]
    for r in range(1, PQ_ROUNDS + 1):
        parts.append(f"a{r}_{m} AS MATERIALIZED ({assign(f'cb{r - 1}_{m}')})")
        parts.append(
            f"cb{r}_{m} AS MATERIALIZED ({recenter(f'cb{r - 1}_{m}', f'a{r}_{m}')})"
        )
    return ",\n    ".join(parts)


def _pq_search_sql(residual: bool) -> str:
    """The shared encode + ADC + top-5 tail.  Expects CTEs:
    strain (sid, r1..r64), vres (vec_id[, cid], r1..r64),
    qres (query_id[, pcid], r1..r64), plus the per-m Lloyd chains."""
    key = ", cid" if residual else ""
    qkey = ", pcid" if residual else ""
    codes = " UNION ALL ".join(
        f"""
        SELECT vec_id{key}, {m} AS m, code FROM (
          SELECT v.vec_id{", v.cid" if residual else ""}, b.k AS code,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                     ORDER BY {_cb_d2("v", "b", m)}, b.k) AS rnk
          FROM vres v, cb{PQ_ROUNDS}_{m} b
        ) WHERE rnk = 1"""
        for m in range(M_SUB)
    )
    qt = " UNION ALL ".join(
        f"""
        SELECT q.query_id{", q.pcid" if residual else ""}, {m} AS m, b.k,
               CAST({_cb_d2("q", "b", m)} AS BIGINT) AS d2
        FROM qres q, cb{PQ_ROUNDS}_{m} b"""
        for m in range(M_SUB)
    )
    probe_match = " AND t.pcid = n.cid" if residual else ""
    return f"""
    codes AS MATERIALIZED ({codes}),
    qt AS MATERIALIZED ({qt}),
    adc AS MATERIALIZED (
      SELECT t.query_id, n.vec_id AS neighbor_id,
             CAST(SUM(t.d2) AS BIGINT) AS adc_dist
      FROM codes n JOIN qt t ON t.m = n.m AND t.k = n.code{probe_match}
      WHERE n.vec_id <> t.query_id
      GROUP BY t.query_id, n.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= 5
    """


def _pq_oracle() -> str:
    lloyd = ",".join(_lloyd_ctes(m) for m in range(M_SUB))
    return f"""
    WITH {_NIV_SQL},
    samp AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sid, e FROM iv
      ORDER BY vec_id LIMIT {TRAIN_N}
    ),
    strain AS MATERIALIZED (SELECT sid, {_r_cols("samp", lambda i: f"e[{i}]")} FROM samp),
    {lloyd},
    vres AS MATERIALIZED (SELECT vec_id, {_r_cols("iv", lambda i: f"e[{i}]")} FROM iv),
    qres AS MATERIALIZED (SELECT vec_id AS query_id,
                    {_r_cols("iv", lambda i: f"e[{i}]")}
             FROM iv WHERE vec_id < 10),
    {_pq_search_sql(residual=False)}
    """


@register("ann_pq_adc_md5", oracle=_pq_oracle(), tags=("similarity", "quantize"))
def ann_pq_adc_md5(spark, sf_dir):
    """Hash-gated twin of ann_pq_adc: M=8 subspaces × K=16 codebooks
    trained by INTEGER Lloyd (first-256-by-id training sample, 2
    floor-mean rounds) over the L2-normalized integer grid, encode by
    argmin-L2 with ties → lower code, then asymmetric distance — the
    query stays unquantized and a candidate's distance is 8 integer
    table lookups summed.  Exact BIGINT end to end: the driver hashes
    the full train→encode→ADC chain, including the Lloyd loop the
    float production path can't replay.  Corpus passes are shuffle-free
    Arrow kernels, same as production."""
    import numpy as np

    e = _norm_grid(spark, sf_dir)
    S = np.asarray(_id_sample_rows(e, TRAIN_N), dtype=np.int64)
    books = train_pq(S, M_SUB, SEED_K, PQ_ROUNDS)
    return adc_top5(pq_encode(e, books), adc_tables(_int_queries(e), books))


# --------------------------------------------------------------- IVF-PQ --


def _coarse_lloyd_ctes() -> str:
    """Coarse-quantizer integer Lloyd: seed = first 8 md5-sample rows
    (full 64-dim, columns d1..d64), COARSE_ROUNDS x (max-dot assign
    over the training sample, floor-mean recenter).  Consumes CTE
    `straw` (sid, r1..r64); final centroids CTE is ccb{COARSE_ROUNDS}."""

    def cdot(a: str, b: str) -> str:
        return " + ".join(f"{a}.r{i} * {b}.d{i}" for i in range(1, 65))

    def assign(prev: str) -> str:
        return (
            "SELECT sid, cid FROM ("
            "SELECT s.sid, b.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY s.sid ORDER BY {cdot('s', 'b')} DESC, b.cid)"
            f" AS rnk FROM straw s, {prev} b) WHERE rnk = 1"
        )

    def recenter(prev: str, asn: str) -> str:
        cols = ", ".join(
            f"CASE WHEN COUNT(s.sid) = 0 THEN ANY_VALUE(b.d{i})"
            f" ELSE FLOOR(CAST(SUM(s.r{i}) AS DOUBLE)"
            f" / COUNT(s.sid)) END AS d{i}"
            for i in range(1, 65)
        )
        return (
            f"SELECT b.cid, {cols} FROM {prev} b"
            f" LEFT JOIN {asn} a ON a.cid = b.cid"
            f" LEFT JOIN straw s ON s.sid = a.sid GROUP BY b.cid"
        )

    seed_cols = ", ".join(f"r{i} AS d{i}" for i in range(1, 65))
    parts = [f"ccb0 AS MATERIALIZED (SELECT sid AS cid, {seed_cols} FROM straw WHERE sid < 8)"]
    for r in range(1, COARSE_ROUNDS + 1):
        parts.append(f"cas{r} AS MATERIALIZED ({assign(f'ccb{r - 1}')})")
        parts.append(f"ccb{r} AS MATERIALIZED ({recenter(f'ccb{r - 1}', f'cas{r}')})")
    return ",\n    ".join(parts)


def _ivfpq_oracle() -> str:
    lloyd = ",".join(_lloyd_ctes(m) for m in range(M_SUB))
    cc = f"ccb{COARSE_ROUNDS}"
    ivdot = " + ".join(f"v.e[{i}] * b.d{i}" for i in range(1, 65))
    return f"""
    WITH {_NIV_SQL},
    samp AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS sid, vec_id, e
      FROM iv ORDER BY vec_id LIMIT {TRAIN_N}
    ),
    straw AS MATERIALIZED (SELECT sid, {_r_cols("", lambda i: f"e[{i}]")} FROM samp),
    {_coarse_lloyd_ctes()},
    asg AS MATERIALIZED (
      SELECT vec_id, e, cid, rnk FROM (
        SELECT v.vec_id, v.e, b.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {ivdot} DESC, b.cid) AS rnk
        FROM iv v, {cc} b
      )
    ),
    v1 AS MATERIALIZED (SELECT vec_id, e, cid FROM asg WHERE rnk = 1),
    strain AS MATERIALIZED (
      SELECT sm.sid,
             {_r_cols("", lambda i: f"sm.e[{i}] - cc.d{i}")}
      FROM samp sm JOIN v1 sv ON sv.vec_id = sm.vec_id
      JOIN {cc} cc ON cc.cid = sv.cid
    ),
    {lloyd},
    vres AS MATERIALIZED (
      SELECT v.vec_id, v.cid,
             {_r_cols("", lambda i: f"v.e[{i}] - cv.d{i}")}
      FROM v1 v JOIN {cc} cv ON cv.cid = v.cid
    ),
    qres AS MATERIALIZED (
      SELECT a.vec_id AS query_id, a.cid AS pcid,
             {_r_cols("", lambda i: f"a.e[{i}] - pc.d{i}")}
      FROM asg a JOIN {cc} pc ON pc.cid = a.cid
      WHERE a.rnk <= 2 AND a.vec_id < 10
    ),
    {_pq_search_sql(residual=True)}
    """


@register(
    "ann_ivfpq_adc_md5", oracle=_ivfpq_oracle(), tags=("similarity", "quantize")
)
def ann_ivfpq_adc_md5(spark, sf_dir):
    """Hash-gated twin of ann_ivfpq_adc (FAISS IVFADC): coarse
    quantizer Lloyd-trained in integers (first-256-by-id sample,
    max-dot assignment, floor-mean recenter) over the normalized integer grid;
    residual PQ codebooks trained by the same integer Lloyd as
    ann_pq_adc_md5 but on the training sample's RESIDUALS w.r.t.
    their own coarse list; asymmetric scoring against per-(query,
    probed-list) integer tables, candidates restricted to the 2 probed
    lists.  Residuals of integers are integers, so the whole
    IVF→residual-train→encode→ADC composite is exact and the driver
    hashes it end to end.  Encode and score are shuffle-free Arrow
    kernels; per-query scan work is ~nprobe/k of the corpus, as in
    production."""
    import numpy as np

    e = _norm_grid(spark, sf_dir)  # session-cached + persisted
    # coarse quantizer and residual codebooks: integer Lloyd over the
    # first-256-by-id sample — mirrors _coarse_lloyd_ctes and the
    # per-m _lloyd_ctes op-for-op
    S = np.asarray(_id_sample_rows(e, TRAIN_N), dtype=np.int64)
    C = lloyd(S, 8, COARSE_ROUNDS)
    books = train_pq(S, M_SUB, SEED_K, PQ_ROUNDS, coarse=C)
    return adc_top5(
        pq_encode(e, books, coarse=C), adc_tables(_int_queries(e), books, coarse=C)
    )


@register("sketch_profile_exact", oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """, tags=("A-approx",))
def sketch_profile_exact(spark, sf_dir):
    """Exact twin of approx_sketches: the same per-type profile report
    (distinct users, tail quantiles, row count) computed exactly, so
    the driver hash-gates the REPORT SHAPE while the sketch variant
    (engine-specific HLL/KLL internals) stays rows-only with
    tolerance pins in tests.  At 100 TB the sketch path is the one you
    run; this exact path is both its correctness anchor and the
    spill-aware fallback (count-distinct is a two-level partial
    aggregate, exact grouped quantiles one sort-based agg)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.expr("percentile(value, 0.5D)").alias("p50"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
        F.expr("percentile(value, 0.99D)").alias("p99"),
        F.count("*").alias("n"),
    )


_RRF_ORACLE = f"""
    WITH {_IV_SQL},
    sc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS9.format(q="q.e", c="c.e")} AS cosine,
             CAST(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> CASE WHEN (q.e[i] >= 0) <> (c.e[i] >= 0)
                           THEN 1 ELSE 0 END)) AS BIGINT) AS ham
      FROM iv q JOIN iv c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    rc AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM sc
      ) WHERE rk <= 20
    ),
    rd AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ham ASC, neighbor_id) AS rk
        FROM sc
      ) WHERE rk <= 20
    ),
    fused AS (
      SELECT COALESCE(rc.query_id, rd.query_id) AS query_id,
             COALESCE(rc.neighbor_id, rd.neighbor_id) AS neighbor_id,
             CAST(rc.rk AS INTEGER) AS rank_cos,
             CAST(rd.rk AS INTEGER) AS rank_ham,
             COALESCE(CAST(1 AS DOUBLE) / (60 + rc.rk), CAST(0 AS DOUBLE))
             + COALESCE(CAST(1 AS DOUBLE) / (60 + rd.rk), CAST(0 AS DOUBLE))
               AS score
      FROM rc
      FULL JOIN rd ON rc.query_id = rd.query_id
                  AND rc.neighbor_id = rd.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_cos, rank_ham,
           ROUND(score, 9) AS rrf_score,
           CAST(fr AS INTEGER) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS fr
      FROM fused
    ) WHERE fr <= 5
"""


@register("rank_fusion_rrf", oracle=_RRF_ORACLE, tags=("similarity", "retrieval"))
def rank_fusion_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval rankings (Cormack,
    Clarke & Büttcher, SIGIR'09) — the standard hybrid-retrieval
    combiner in RAG stacks: each ranker contributes 1/(60 + rank) for
    the documents in its top-20, missing entries contribute 0, and the
    fused top-5 is what the pipeline serves.  Rankers here: exact
    integer-grid COSINE (the dense scorer) and sign-signature HAMMING
    distance (the binary-sketch scorer an index serves cheaply —
    embedding_sign_signature's ranking; raw dot was rejected: this
    corpus is near-unit-norm, so dot collapses into cosine, while the
    1-bit quantization genuinely reorders 57 of the 61 shared top-20
    entries).  Both bit-deterministic, so the fused scores themselves
    sit behind the driver's hash gate (k=60 per the paper).

    Scale shape: RRF consumes RANKED LISTS, not the corpus — the
    per-ranker top-k lists are (queries x k) rows however the
    candidates were produced (here the bounded 10-query brute-force
    baseline; in production the LSH/IVF bucketed stages of ann_* feed
    identical lists).  The fuse is one full-outer equi-join on
    (query, doc) + one window over <= 2k rows per query — independent
    of corpus size by construction."""
    from pyspark.sql import Window

    e = _int_grid(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"))
    pairs = F.broadcast(q).join(c, q.query_id != c.neighbor_id)

    ham = F.aggregate(
        F.zip_with(
            F.col("qe"),
            F.col("ce"),
            lambda x, y: F.when((x >= 0) != (y >= 0), 1).otherwise(0),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sc = pairs.select(
        "query_id",
        "neighbor_id",
        _int_cos9().alias("cosine"),
        ham.alias("ham"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("ham").asc(), "neighbor_id"
    )
    rc = (
        sc.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= 20)
        .select("query_id", "neighbor_id", F.col("rk").alias("rank_cos"))
    )
    rd = (
        sc.withColumn("rk", F.row_number().over(wd))
        .filter(F.col("rk") <= 20)
        .select(
            F.col("query_id").alias("query_id_d"),
            F.col("neighbor_id").alias("neighbor_id_d"),
            F.col("rk").alias("rank_ham"),
        )
    )
    one = F.lit(1).cast("double")
    zero = F.lit(0).cast("double")
    fused = (
        rc.join(
            rd,
            (F.col("query_id") == F.col("query_id_d"))
            & (F.col("neighbor_id") == F.col("neighbor_id_d")),
            "fullOuter",
        )
        .select(
            F.coalesce("query_id", "query_id_d").alias("query_id"),
            F.coalesce("neighbor_id", "neighbor_id_d").alias("neighbor_id"),
            F.col("rank_cos").cast("int").alias("rank_cos"),
            F.col("rank_ham").cast("int").alias("rank_ham"),
            (
                F.coalesce(one / (F.lit(60) + F.col("rank_cos")), zero)
                + F.coalesce(one / (F.lit(60) + F.col("rank_ham")), zero)
            ).alias("score"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .filter(F.col("fr") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank_cos",
            "rank_ham",
            F.round("score", 9).alias("rrf_score"),
            F.col("fr").cast("int").alias("fused_rank"),
        )
    )
