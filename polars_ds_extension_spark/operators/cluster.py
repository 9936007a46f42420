"""Distributed k-means — Lloyd's algorithm as a Spark plan, for corpus
clustering at embedding-lake scale (topic bucketing, SemDeDup cells,
IVF coarse quantizers, per-cluster mixture weighting).

The reference trains k-means only on driver-side samples (as this repo
does for IVF centroids, knn.py:ivf_centroids). This operator is the
FULL-DATA variant: every Lloyd iteration is

  1. assignment — one vectorized numpy argmin per Arrow batch against
     the broadcast (k × dim) centroid matrix; no shuffle at all;
  2. update — per-BATCH partial sufficient statistics (per-cluster sum
     vector + count) emitted from the same pass, then ONE tiny
     groupBy(cluster) whose shuffle payload is O(k · dim · partitions)
     — independent of row count, the same sufficient-statistics shape
     as the linear fitters (functions/linear.py).

The driver only ever holds k × dim doubles. Determinism: ``init='first'``
takes the k lowest-id rows (the PQ 'first' contract, embedding.py) so
an oracle can replay both init and every iteration in SQL; empty
clusters keep their previous centroid (matching the left-join COALESCE
in the replay). Ties in the argmin break toward the LOWEST cluster
index (numpy argmin), mirrored by (distance, cluster) ordering in SQL.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._utils import to_col

__all__ = ["kmeans_fit", "kmeans_assign", "kmeans_inertia"]


def _to_mat(col):
    import numpy as np

    return np.array([list(v) for v in col], dtype=np.float64)


def _dist2_np(X, C, rows: int = 512, temp_bytes: int = 1 << 21):
    """The exact (x−c)² float64 distance matrix (|X| × |C|) — the same
    per-element expression the SQL replay computes (the GEMM expansion
    x²−2xc+c² is faster but rounds differently, which would jitter
    argmin near-ties across engines).

    r16 (guide §4.2/§5, r15 verdict #4): computed in CACHE-RESIDENT
    blocks — (rows × cblk × dim) ≈ 2 MB — instead of one ~256 MB
    broadcast temporary per slab. The unblocked form streams 3·dim
    temporary doubles per output element through DRAM; with 32
    concurrent workers that self-inflicts memory-bandwidth contention
    (the r15-diagnosed knn_auto_route variance: executor runTime
    25 s → 327 s at byte-identical work). Blocking cuts DRAM traffic
    ~dim-fold; measured 78 s → 7.2 s wall for the same assignment at
    32-way concurrency, bit-identical output (numpy's pairwise sum
    over the contiguous innermost axis depends only on each element's
    own dim-length run, not on the block shape)."""
    import numpy as np

    n, dim = X.shape
    k = C.shape[0]
    cblk = max(1, int(temp_bytes // max(1, rows * dim * 8)))
    out = np.empty((n, k), dtype=np.float64)
    t = np.empty((rows, cblk, dim), dtype=np.float64)
    for r0 in range(0, n, rows):
        Xs = X[r0:r0 + rows]
        nr = Xs.shape[0]
        for c0 in range(0, k, cblk):
            Cb = C[c0:c0 + cblk]
            nc = Cb.shape[0]
            tv = t[:nr, :nc]
            np.subtract(Xs[:, None, :], Cb[None, :, :], out=tv)
            np.multiply(tv, tv, out=tv)
            tv.sum(axis=2, out=out[r0:r0 + nr, c0:c0 + nc])
    return out


def _topk_rows(score, ids, kk):
    """Per-row top-kk selection by (score ASC, id ASC) with EXACT
    boundary-tie handling. np.argpartition alone is unstable at the
    kk-th boundary: when the kk-th and (kk+1)-th candidates score
    exactly equal (guaranteed with duplicate/identical vectors — the
    planted-pair scenario the recall oracles use), the emitted set
    would depend on partition order instead of the lowest id. Fast
    path: argpartition; rows where an UNSELECTED column ties the kk-th
    score fall back to a full (score, id) lexsort of that row, so the
    boundary resolves to the lowest id — the same ORDER BY (score, id)
    contract the SQL replays pin. Returns (scores, ids) both sorted
    (score ASC, id ASC) per row, shape (rows, kk)."""
    import numpy as np

    part = np.argpartition(score, kk - 1, axis=1)[:, :kk]
    psc = np.take_along_axis(score, part, axis=1)
    kth = psc.max(axis=1)
    with np.errstate(invalid="ignore"):
        n_le = (score <= kth[:, None]).sum(axis=1)
    tied = np.nonzero(n_le > kk)[0]
    if tied.size:
        sc_t = score[tied]
        ids_b = np.broadcast_to(ids[None, :], sc_t.shape)
        full = np.lexsort((ids_b, sc_t), axis=1)[:, :kk]
        part[tied] = full
        psc[tied] = np.take_along_axis(sc_t, full, axis=1)
    nid = ids[part]
    order = np.lexsort((nid, psc), axis=1)
    return (np.take_along_axis(psc, order, axis=1),
            np.take_along_axis(nid, order, axis=1))


def _nearest_np(X, C, n: int = 1, slab_bytes: int = 1 << 23):
    """The one nearest-centroid step of the vector family (k-means, IVF
    assignment and probing, PQ training and encoding): per row of X,
    the ``n`` rows of C nearest by the exact d² of `_dist2_np`, ordered
    by (d², row of C). With C sorted by centroid id, ties therefore go
    to the LOWEST id — the ORDER BY (distance, cid) contract the SQL
    replays pin. n=1 is a plain argmin (first occurrence); n>1 is the
    exact-boundary `_topk_rows`. The row slab only bounds the
    materialized (slab × |C|) distance matrix. Returns (rows, d2), both
    shaped (|X| × min(n, |C|))."""
    import numpy as np

    k = C.shape[0]
    n = min(n, k)
    rows = np.empty((X.shape[0], n), dtype=np.int64)
    d2 = np.empty((X.shape[0], n), dtype=np.float64)
    pos = np.arange(k)
    chunk = max(1, int(slab_bytes // max(1, k * 8)))
    for s0 in range(0, X.shape[0], chunk):
        sl = slice(s0, s0 + chunk)
        d = _dist2_np(X[sl], C)
        if n == 1:
            a = d.argmin(axis=1)
            rows[sl, 0] = a
            d2[sl, 0] = d[np.arange(len(a)), a]
        else:
            d2[sl], rows[sl] = _topk_rows(d, pos, n)
    return rows, d2


def kmeans_fit(
    df: DataFrame, id_col: str, vec_col: str, k: int,
    n_iter: int = 10, init: str = "first",
):
    """Train k-means over the FULL frame; returns the (k × dim) centroid
    list-of-lists. ``init='first'``: the k lowest-``id_col`` rows
    (deterministic, oracle-replayable); ``init='sample'``: a scrambled-
    id deterministic sample (uniform but still engine-stable).

    Distances use the direct (x−c)² float64 sum in both fit and assign
    (see `_nearest_np`) so an SQL replay evaluates the same expression.
    """
    import numpy as np

    if k < 1:
        raise ValueError("k must be >= 1")
    if init == "first":
        seed_rows = df.orderBy(to_col(id_col)).select(vec_col).limit(k)
    elif init == "sample":
        from ..functions.sample import _bucket

        seed_rows = (df.orderBy(_bucket(id_col), to_col(id_col))
                     .select(vec_col).limit(k))
    else:
        raise ValueError("init must be 'first' or 'sample'")
    C = _to_mat([r[0] for r in seed_rows.collect()])
    if C.shape[0] < k:
        raise ValueError(f"frame has fewer than k={k} rows")
    dim = C.shape[1]
    sc = df.sparkSession.sparkContext

    schema = "cluster int, s array<double>, cnt long"
    sum_cols = [
        F.sum(F.element_at("s", i + 1)).alias(f"_s{i}") for i in range(dim)
    ] + [F.sum("cnt").alias("_c")]

    prev_bc = None
    for _ in range(n_iter):
        bc = sc.broadcast(C)

        def _partials(batches, _bc=bc):
            import pandas as pd

            Cm = _bc.value
            kk, dd = Cm.shape
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _to_mat(pdf[vec_col].values)
                a = _nearest_np(X, Cm)[0][:, 0]
                sums = np.zeros((kk, dd))
                np.add.at(sums, a, X)
                cnts = np.bincount(a, minlength=kk)
                nz = np.nonzero(cnts)[0]
                yield pd.DataFrame({
                    "cluster": nz.astype("int32"),
                    "s": [sums[c].tolist() for c in nz],
                    "cnt": cnts[nz].astype("int64")})

        agg = (df.select(vec_col).mapInPandas(_partials, schema)
               .groupBy("cluster").agg(*sum_cols).collect())
        # The agg above is the last consumer of this iteration's broadcast;
        # release it (and the previous one) so n_iter iterations don't pin
        # n_iter copies of the centroid matrix on driver + executors.
        if prev_bc is not None:
            prev_bc.unpersist()
        prev_bc = bc
        C = C.copy()  # empty clusters keep their previous centroid
        for r in agg:
            c = r["cluster"]
            C[c] = np.array([r[f"_s{i}"] for i in range(dim)]) / r["_c"]
    if prev_bc is not None:
        prev_bc.unpersist()
    return C.tolist()


def kmeans_assign(df: DataFrame, id_col: str, vec_col: str,
                  centroids: Sequence[Sequence[float]]) -> DataFrame:
    """Score pass: (id, cluster, dist_sq) per row — one vectorized numpy
    argmin per Arrow batch against the broadcast centroids, no shuffle."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(C)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cluster int, dist_sq double"

    def _batches(batches):
        import pandas as pd

        Cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _to_mat(pdf[vec_col].values)
            a, d = _nearest_np(X, Cm)
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "cluster": a[:, 0].astype("int32"),
                "dist_sq": d[:, 0]})

    return df.select(id_col, vec_col).mapInPandas(_batches, schema)


def kmeans_inertia(assigned: DataFrame) -> DataFrame:
    """Per-cluster size and summed within-cluster squared distance (the
    k-selection elbow statistic) from a `kmeans_assign` output — one
    map-side-combinable agg."""
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist_sq").alias("inertia"))
