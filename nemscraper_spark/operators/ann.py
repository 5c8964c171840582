"""The ANN steps — IVF coarse quantizer, product quantizer, asymmetric
distance (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI'11) — each written once.

The float ANN queries (queries/training_data.py) and their hash-gated
integer-grid twins (queries/ann_twins.py) run these same functions;
they differ only in the grid, the training sample and the dtype of the
arrays they pass in:

- :func:`nearest` — max-dot top-n centroid ids, ties → lower id;
- :func:`lloyd` / :func:`train_pq` — driver-side Lloyd on a sample:
  seed = first k rows, recenter = member mean, FLOORED when the input
  is integer (so every integer artifact stays exact);
- :func:`ivf_assign` → (vec_id, cid, cid2, e) and :func:`ivf_pairs`,
  the nprobe=2 candidate join;
- :func:`pq_encode` → (vec_id, cid, codes), optionally residual to a
  coarse quantizer; flat PQ is the one-list case (cid 0);
- :func:`adc_tables` — per (query vec_id, probed list) (M, K) tables,
  and :func:`adc_top5` — table-lookup scoring + the top-5 window.

Executor kernels are nested closures built by a factory with
function-local numpy/pandas imports, and the array helpers they call
(``nearest``, ``pq_codes``) are built the same way: cloudpickle ships
nested closures BY VALUE but module-level functions by reference, and
a by-reference function fails on executors that cannot import
``nemscraper_spark`` (a driver running from a foreign cwd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _array_steps():
    def nearest(X, C, n):
        """(len(X), n) ids of the n max-dot rows of C, ties → lower id."""
        import numpy as np

        dots = X @ C.T
        return np.lexsort(
            (np.tile(np.arange(len(C)), (len(X), 1)), -dots), axis=1
        )[:, :n]

    def pq_codes(X, books):
        """(len(X), M) codes: per subspace m, the argmin squared-L2
        entry of books[m] (books: (M, K, sub)), ties → lower code."""
        import numpy as np

        m_, _, sub = books.shape
        codes = np.empty((len(X), m_), dtype=np.int64)
        for m in range(m_):
            Xs = X[:, m * sub : (m + 1) * sub]
            d2 = ((Xs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return codes

    return nearest, pq_codes


nearest, pq_codes = _array_steps()


# ------------------------------------------------------------ training --


def lloyd(X, k: int, rounds: int, assign=None):
    """Lloyd's k-means on a driver-side sample: seed = X[:k], each
    round assigns (default: :func:`nearest`, max-dot) then moves every
    non-empty centre to its members' mean — floored for integer X, so
    an integer sample yields integer centres.  Empty clusters keep
    their centre."""
    import numpy as np

    C = X[:k].copy()
    for _ in range(rounds):
        a = nearest(X, C, 1)[:, 0] if assign is None else assign(X, C)
        for c in range(k):
            mask = a == c
            if mask.any():
                mean = X[mask].sum(axis=0) / mask.sum()
                C[c] = np.floor(mean) if C.dtype.kind in "iu" else mean
    return C


def train_pq(X, m: int, k: int, rounds: int, coarse=None):
    """(m, k, dim/m) codebooks: per-subspace L2 Lloyd over X, or over
    its residuals to the nearest ``coarse`` centroid (IVF-PQ)."""
    import numpy as np

    if coarse is not None:
        X = X - coarse[nearest(X, coarse, 1)[:, 0]]
    sub = X.shape[1] // m
    return np.stack(
        [
            lloyd(
                X[:, j * sub : (j + 1) * sub],
                k,
                rounds,
                lambda Xs, cb: pq_codes(Xs, cb[None])[:, 0],
            )
            for j in range(m)
        ]
    )


def adc_tables(queries: dict, books, coarse=None) -> dict:
    """{(query vec_id, probed list): (M, K) squared-L2 table} from the
    UNquantized query vectors ({vec_id: vector}).  With ``coarse`` each
    query probes its 2 nearest lists on its residual; without it (flat
    PQ) the one list is 0."""
    import numpy as np

    ids = sorted(queries)
    Q = np.stack([queries[q] for q in ids])
    if coarse is None:
        probes = np.zeros((len(ids), 1), dtype=np.int64)
    else:
        probes = nearest(Q, coarse, 2)
    m_, _, sub = books.shape
    tables = {}
    for i, q in enumerate(ids):
        for cid in probes[i]:
            r = Q[i] if coarse is None else Q[i] - coarse[cid]
            tables[(int(q), int(cid))] = np.stack(
                [
                    ((books[m] - r[m * sub : (m + 1) * sub][None, :]) ** 2).sum(axis=1)
                    for m in range(m_)
                ]
            )
    return tables


# ------------------------------------------------------------- kernels --


def assign_kernel(C):
    """mapInPandas kernel (vec_id, e) → (vec_id, cid, cid2, e): the two
    max-dot centroids of C (ties → lower id); e passes through, so no
    re-join with the input.  X is read at C's dtype.  One GEMM per Arrow
    batch: the JVM alternative (k sorted structs of 64-literal dot
    trees) explodes analysis and codegen time."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=C.dtype) for v in pdf["e"]])
            order = nearest(X, C, 2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cid": order[:, 0].astype("int64"),
                    "cid2": order[:, 1].astype("int64"),
                    "e": pdf["e"],
                }
            )

    return fn


def encode_kernel(books, coarse=None, l2: bool = False):
    """mapInPandas kernel (vec_id, e) → (vec_id, cid, codes): optional
    L2 normalization, nearest coarse list (0 when flat) and the PQ codes
    of the residual.  X is read at the books' dtype."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=books.dtype) for v in pdf["e"]])
            if l2:
                X = X / np.linalg.norm(X, axis=1, keepdims=True)
            if coarse is None:
                cid = np.zeros(len(X), dtype=np.int64)
            else:
                cid = nearest(X, coarse, 1)[:, 0]
                X = X - coarse[cid]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cid": cid.astype("int64"),
                    "codes": [list(map(int, c)) for c in pq_codes(X, books)],
                }
            )

    return fn


def adc_kernel(tables):
    """mapInPandas kernel (vec_id, cid, codes) → (query_id,
    neighbor_id, adc_dist): for every (query, probed list) table, the
    batch's members of that list other than the query, scored by M
    table lookups summed and rounded to 9dp (a no-op on integers)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            nid = pdf["vec_id"].astype("int64").to_numpy()
            ncid = pdf["cid"].astype("int64").to_numpy()
            out_q, out_n, out_d = [], [], []
            for (q, lc), t in tables.items():
                keep = (ncid == lc) & (nid != q)
                if not keep.any():
                    continue
                d = t[np.arange(len(t)), codes[keep]].sum(axis=1)
                out_q.append(np.full(int(keep.sum()), q, dtype=np.int64))
                out_n.append(nid[keep])
                out_d.append(np.round(d, 9))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    return fn


# -------------------------------------------------------------- frames --


def ivf_assign(e: DataFrame, C) -> DataFrame:
    """(vec_id, e) → (vec_id, cid, cid2, e) via :func:`assign_kernel`."""
    etype = e.schema["e"].dataType.simpleString()
    return e.mapInPandas(
        assign_kernel(C), schema=f"vec_id long, cid long, cid2 long, e {etype}"
    )


def ivf_pairs(assigned: DataFrame) -> DataFrame:
    """nprobe=2 candidates (query_id, qe, neighbor_id, ce): each query
    (vec_id < 10) probes its own and its next-nearest list — one
    broadcast equi-join on cid, the query itself excluded."""
    lists = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "cid"
    )
    probes = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.explode(F.array(F.col("cid"), F.col("cid2"))).alias("cid"),
    )
    return (
        F.broadcast(probes)
        .join(lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )


def pq_encode(e: DataFrame, books, coarse=None, l2: bool = False) -> DataFrame:
    """(vec_id, e) → (vec_id, cid, codes) via :func:`encode_kernel`."""
    return e.mapInPandas(
        encode_kernel(books, coarse, l2),
        schema="vec_id long, cid long, codes array<int>",
    )


def adc_top5(encoded: DataFrame, tables: dict) -> DataFrame:
    """ADC-score ``encoded`` against ``tables`` (:func:`adc_kernel`) and
    keep each query's 5 nearest."""
    kind = next(iter(tables.values())).dtype.kind
    scored = encoded.mapInPandas(
        adc_kernel(tables),
        schema="query_id long, neighbor_id long, adc_dist "
        + ("double" if kind == "f" else "long"),
    )
    return top5(scored, "adc_dist")


def top5(scored: DataFrame, by: str, desc: bool = False) -> DataFrame:
    """+ rk: row_number per query_id ordered by ``by`` (then
    neighbor_id), rows with rk <= 5."""
    from pyspark.sql import Window

    order = F.col(by).desc() if desc else F.col(by).asc()
    w = Window.partitionBy("query_id").orderBy(order, "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
