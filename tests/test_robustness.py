"""Round-3 robustness fixes: degenerate LSH/IVF inputs, null categories
in encoders, null order values in the two-pass rank plans, penalized GLM,
and deterministic-sampler overflow safety."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- LSH bucket cap

def test_ann_lsh_join_degenerate_constant_vectors(spark):
    """1000 identical vectors: every (table, sig) bucket is degenerate.
    With the bucket cap the pair stage must stay bounded (not n²)."""
    from polars_ds_extension_spark.operators.knn import ann_lsh_join

    df = spark.range(1000).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)).alias("emb"))
    out = ann_lsh_join(df, "id", "emb", k=3, max_bucket=50)
    # oversized buckets are dropped entirely -> no candidate explosion
    assert out.count() == 0

    # sane buckets still produce neighbors under the same cap
    df2 = spark.range(40).select(
        F.col("id"),
        F.array(*[(F.col("id") * F.lit(0.1) + F.lit(float(d))).cast("double")
                  for d in range(3)]).alias("emb"))
    out2 = ann_lsh_join(df2, "id", "emb", k=3, max_bucket=50)
    assert out2.count() > 0


def test_ivf_max_cell_bounds_pairs(spark):
    """All vectors in one centroid cell: max_cell salting keeps the pair
    join sub-quadratic while still returning neighbors."""
    from polars_ds_extension_spark.operators.knn import ivf_knn_join

    n = 400
    df = spark.range(n).select(
        F.col("id"),
        F.array(*[(F.col("id") * F.lit(0.001) + F.lit(float(d))).cast("double")
                  for d in range(3)]).alias("emb"))
    out = ivf_knn_join(df, "id", "emb", n_centroids=1, k=2, max_cell=50)
    rows = out.count()
    assert 0 < rows <= n * 2
    # every id's candidates came from its own sub-cell (bounded size)
    out_nosalt = ivf_knn_join(df, "id", "emb", n_centroids=1, k=2)
    assert out_nosalt.count() == n * 2  # uncapped = full within-cell knn


def test_ivf_centroids_methods(spark):
    from polars_ds_extension_spark.operators.knn import ivf_centroids, ivf_knn_join

    rng = np.random.RandomState(0)
    # two clearly separated clusters
    pts = np.vstack([rng.normal(0, 0.1, (300, 4)),
                     rng.normal(5, 0.1, (300, 4))])
    df = spark.createDataFrame(
        [(i, [float(v) for v in p]) for i, p in enumerate(pts)],
        "id bigint, emb array<double>")
    cents = ivf_centroids(df, "id", "emb", n_centroids=2, method="kmeans")
    C = np.array([r["centroid"] for r in cents.collect()])
    assert C.shape == (2, 4)
    # one centroid per true cluster
    means = sorted(C.mean(axis=1))
    assert means[0] == pytest.approx(0.0, abs=0.5)
    assert means[1] == pytest.approx(5.0, abs=0.5)
    # balanced assignment: prebuilt centroids flow through ivf_knn_join
    out = ivf_knn_join(df, "id", "emb", k=1, centroids=cents)
    assert out.count() == 600

    s = ivf_centroids(df, "id", "emb", n_centroids=4, method="sample")
    assert s.count() == 4


# --------------------------------------------------- encoder null categories

def test_encoders_null_categories(spark):
    from polars_ds_extension_spark.pipeline.transforms import (
        IvEncode, TargetEncode, WoeEncode)

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("b", 1.0), ("b", 1.0),
         (None, 0.0), (None, 1.0)],
        "cat string, y double")
    te = TargetEncode(["cat"], "y").fit(df)
    out = te.transform(df)
    g = 4.0 / 6.0
    null_rows = out.where(F.col("y") == 0.0).collect()
    assert len(null_rows) == 2  # no NULL-map-key crash
    # null category -> global mean fallback
    vals = {r["cat"] for r in out.collect()}
    assert any(abs(v - g) < 1e-9 for v in vals)

    woe = WoeEncode(["cat"], "y").fit(df)
    wout = woe.transform(df).collect()
    assert len(wout) == 6  # nulls encode to NULL, no crash
    assert any(r["cat"] is None for r in wout)

    iv = IvEncode(["cat"], "y").fit(df)
    assert iv.transform(df).count() == 6


# --------------------------------------------------- null order in rank plans

def test_global_rank_null_order_values(spark):
    from polars_ds_extension_spark.plans.ranks import (
        global_avg_rank, global_cumsum, global_min_rank)

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0), (4, None), (5, 20.0)],
        "id int, x double")
    ranked = global_min_rank(df, "x", out_name="r", n_parts=3).collect()
    by_id = {r["id"]: r["r"] for r in ranked}
    # nulls first (Spark ASC order): both rank 1, then 5.0 -> 3, 10 -> 4, 20 -> 5
    assert by_id[2] == 1 and by_id[4] == 1
    assert by_id[3] == 3 and by_id[1] == 4 and by_id[5] == 5

    avg = global_avg_rank(df, "x", out_name="ar", n_parts=3).collect()
    a = {r["id"]: r["ar"] for r in avg}
    assert a[2] == pytest.approx(1.5) and a[4] == pytest.approx(1.5)

    cum = global_cumsum(df.withColumn("v", F.lit(1.0)), "x", ["v"],
                        n_parts=3).collect()
    c = {r["id"]: r["cum_v"] for r in cum}
    assert c[5] == pytest.approx(5.0)  # last value sees every row


# ------------------------------------------------------------- penalized GLM

def test_glm_l2_actually_penalizes(spark):
    rng = np.random.RandomState(7)
    X = rng.normal(size=(500, 2))
    eta = 0.8 * X[:, 0] - 0.5 * X[:, 1] + 0.3
    y = rng.binomial(1, 1 / (1 + np.exp(-eta)))
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(X, y)],
        "x1 double, x2 double, y double")

    from polars_ds_extension_spark.functions.linear import glm, logistic_reg

    b0 = glm(df, ["x1", "x2"], "y", family="binomial", l2=0.0)
    b1 = glm(df, ["x1", "x2"], "y", family="binomial", l2=5.0)
    # ridge must shrink the non-bias coefficients
    assert abs(b1[0]) < abs(b0[0]) and abs(b1[1]) < abs(b0[1])
    assert abs(b1[0] - b0[0]) > 1e-4
    # and must agree with logistic_reg's (already-correct) penalized IRLS
    lr = logistic_reg(df, ["x1", "x2"], "y", l2=5.0)
    assert b1 == pytest.approx(lr, rel=1e-6)


# ------------------------------------------------- deterministic sampler ids

def test_bucket_huge_ids_no_overflow(spark):
    from polars_ds_extension_spark.functions.sample import (
        sample_deterministic, split_by_ratio)

    big = 9_223_372_036  # would overflow int64 when multiplied raw
    df = spark.createDataFrame(
        [(big + i,) for i in range(2000)], "uid long")
    n = sample_deterministic(df, "uid", 0.5).count()
    assert 0 < n < 2000  # runs under ANSI mode, roughly half kept
    splits = split_by_ratio(df, "uid", [0.5, 0.5], ["a", "b"])
    assert splits["a"].count() + splits["b"].count() == 2000


def test_bucket_matches_plain_modulus_for_small_ids(spark):
    """(id % m)*a % m == id*a % m — the overflow guard must not change
    results for in-range ids (oracle compatibility)."""
    from polars_ds_extension_spark.functions.sample import _BUCKETS, _bucket

    df = spark.range(5000).select(F.col("id"))
    got = df.select(_bucket("id").alias("b")).collect()
    for i, r in enumerate(got):
        assert r["b"] == (i * 2654435761) % _BUCKETS


# ------------------------------------------- by=None forms route at scale

def _window_over_single_partition(df_out) -> bool:
    plan = df_out._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("\n")
    for i, ln in enumerate(lines):
        if "Window" in ln:
            for j in range(i + 1, min(i + 4, len(lines))):
                if "Exchange" in lines[j]:
                    if "SinglePartition" in lines[j]:
                        return True
                    break
    return False


def test_global_forms_match_numpy_and_avoid_single_partition(spark):
    from polars_ds_extension_spark.functions import metrics as M
    from polars_ds_extension_spark.functions import stats as S

    rng = np.random.RandomState(3)
    rows = [(float(rng.binomial(1, 0.4)), float(rng.rand()),
             float(rng.rand() * 10)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "y double, p double, x double")
    ys = np.array([r[0] for r in rows])
    ps = np.array([r[1] for r in rows])
    xs = np.array([r[2] for r in rows])

    m = M.query_mad(df, "x")
    assert m.first()[0] == pytest.approx(float(np.mean(np.abs(xs - xs.mean()))))
    assert not _window_over_single_partition(m)

    t = M.tpr_fpr(df, "y", "p")
    t.count()
    assert not _window_over_single_partition(t)
    thr = float(ps[11])
    exp_tpr = ((ps >= thr) & (ys == 1)).sum() / (ys == 1).sum()
    row = t.where(F.abs(F.col("threshold") - thr) < 1e-12).first()
    assert row["tpr"] == pytest.approx(exp_tpr)

    d = M.query_dcg_score(df, "x", "p", k=20, normalize=True)
    order = np.argsort(-ps, kind="stable")
    rel = xs[order][:20]
    ideal = np.sort(xs)[::-1][:20]
    exp = (rel / np.log2(np.arange(2, 22))).sum() / \
          (ideal / np.log2(np.arange(2, 22))).sum()
    assert d.first()[0] == pytest.approx(exp)
    assert not _window_over_single_partition(d)

    w = S.winsorize_df(df, ["x"], 0.1, 0.9)
    lo, hi = np.percentile(xs, 10), np.percentile(xs, 90)
    got = np.array(sorted(r["x"] for r in w.collect()))
    exp_w = np.sort(np.clip(xs, lo, hi))
    assert np.allclose(got, exp_w)


def test_exact_quantiles_matches_numpy(spark):
    from polars_ds_extension_spark.plans import exact_quantiles

    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.normal(0, 1, 3000),
                         np.full(500, 2.5),      # heavy tie mass
                         rng.exponential(5, 500)])
    ys = rng.integers(0, 7, xs.shape[0]).astype("float64")  # low cardinality
    import pandas as pd
    sdf = spark.createDataFrame(pd.DataFrame({"x": xs, "y": ys}))
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0]
    got = exact_quantiles(sdf, {"x": probs, "y": probs}, n_parts=8)
    for col, arr in (("x", xs), ("y", ys)):
        exp = [float(np.quantile(arr, q)) for q in probs]
        assert got[col] == pytest.approx(exp, abs=1e-12), col


def test_exact_quantiles_null_and_tiny(spark):
    from polars_ds_extension_spark.plans import exact_quantiles

    sdf = spark.createDataFrame(
        [(None, 1.0), (3.0, None), (1.0, None), (2.0, 4.0)], "a double, b double")
    got = exact_quantiles(sdf, {"a": [0.5], "b": [0.0, 1.0]})
    assert got["a"] == [2.0]            # nulls ignored: {1,2,3}
    assert got["b"] == [1.0, 4.0]       # {1,4}
    empty = spark.createDataFrame([], "a double")
    assert exact_quantiles(empty, {"a": [0.5]}) == {"a": [None]}


def test_exact_quantiles_with_infinities(spark):
    # A column carrying ±inf used to silently return None for EVERY
    # quantile: percentile_approx hands back inf boundaries, whose
    # repr() ('inf') Spark's string→double cast rejects, nulling all
    # bucket ids. Boundaries are now filtered to finite values and the
    # inf rows counted exactly in the edge buckets.
    from polars_ds_extension_spark.plans import exact_quantiles

    rng = np.random.default_rng(7)
    xs = np.concatenate([rng.normal(0, 1, 1000),
                         np.full(400, np.inf), np.full(300, -np.inf)])
    import pandas as pd
    sdf = spark.createDataFrame(pd.DataFrame({"x": xs}))
    probs = [0.0, 0.05, 0.5, 0.9, 1.0]
    got = exact_quantiles(sdf, {"x": probs}, n_parts=8)
    exp = [float(np.quantile(xs, q)) for q in probs]
    for g, e in zip(got["x"], exp):
        assert g is not None
        if np.isfinite(e):
            assert g == pytest.approx(e, abs=1e-12)
        else:
            # interpolating between two infs gives nan on both sides
            assert g == e or (np.isnan(g) and np.isnan(e))


def test_exact_quantiles_presketch_path(spark):
    from polars_ds_extension_spark.plans.ranks import (
        exact_quantiles, quantile_sketch_aggs, quantile_sketch_parse)

    import pandas as pd
    rng = np.random.default_rng(3)
    sdf = spark.createDataFrame(
        pd.DataFrame({"v": rng.uniform(0, 100, 5000)}))
    row = sdf.agg(*quantile_sketch_aggs(["v"])).first()
    pre = quantile_sketch_parse(row, ["v"])
    got = exact_quantiles(sdf, {"v": [0.25, 0.5, 0.75]}, presketch=pre)
    ref = exact_quantiles(sdf, {"v": [0.25, 0.5, 0.75]})
    assert got["v"] == pytest.approx(ref["v"], abs=1e-12)


def test_salted_join_identical_to_plain(spark):
    from polars_ds_extension_spark.plans import salted_join
    import pandas as pd

    rng = np.random.default_rng(19)
    # heavy skew: key 0 holds half the rows
    keys = np.where(rng.uniform(size=4000) < 0.5, 0,
                    rng.integers(1, 200, 4000))
    big = spark.createDataFrame(pd.DataFrame({
        "k": keys, "v": rng.normal(size=4000)}))
    small = spark.createDataFrame(pd.DataFrame({
        "k": range(200), "lab": [f"x{i}" for i in range(200)]}))
    got = salted_join(big, small, ["k"], n_salt=8) \
        .groupBy("k", "lab").count().toPandas()
    exp = big.join(small, "k").groupBy("k", "lab").count().toPandas()
    g = got.sort_values(["k", "lab"]).reset_index(drop=True)
    e = exp.sort_values(["k", "lab"]).reset_index(drop=True)
    assert (g["count"] == e["count"]).all() and len(g) == len(e)
    # left join keeps unmatched big rows
    lj = salted_join(big, spark.createDataFrame(
        pd.DataFrame({"k": [0], "lab": ["only0"]})), ["k"], n_salt=4,
        how="left")
    assert lj.count() == 4000


def test_exact_quantiles_adversarial_shapes(spark):
    from polars_ds_extension_spark.plans import exact_quantiles
    import pandas as pd

    cases = {
        "two_vals": [1.0] * 999 + [2.0],
        "neg": [-5.0, -1.0, -3.0, -2.0, -4.0],
        "huge": [1e300, -1e300, 0.0, 1e-300],
        "single": [42.0],
        "pair": [1.0, 3.0],
    }
    probs = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
    for name, vals in cases.items():
        sdf = spark.createDataFrame(pd.DataFrame({"x": vals}))
        got = exact_quantiles(sdf, {"x": probs}, n_parts=4)["x"]
        exp = [float(np.quantile(vals, q)) for q in probs]
        assert got == pytest.approx(exp, rel=1e-12), (name, got, exp)


def test_ivf_search_matches_brute_when_one_cell(spark):
    """nprobe >= n_centroids with a single cell must equal exact brute
    force — the recall-loss term vanishes when every cell is probed."""
    import numpy as np
    from polars_ds_extension_spark.operators import knn as K

    rng = np.random.RandomState(7)
    rows = [(i, [float(v) for v in rng.randn(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = K.ivf_search(df.where("vec_id < 10"), "vec_id", "embedding",
                       df, "vec_id", "embedding",
                       k=3, n_centroids=1, nprobe=1, centroids="first")
    exact = K.knn_join(df.where("vec_id < 10"), "vec_id", "embedding",
                       df, "vec_id", "embedding", k=3, metric="cosine")
    g = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    e = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    assert g == e


def test_ivf_search_nprobe_above_centroid_count(spark):
    """nprobe larger than the centroid count clamps instead of erroring,
    and then equals exact brute force (all cells probed)."""
    import numpy as np
    from polars_ds_extension_spark.operators import knn as K

    rng = np.random.RandomState(11)
    rows = [(i, [float(v) for v in rng.randn(6)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = K.ivf_search(df, "vec_id", "embedding", df, "vec_id", "embedding",
                       k=2, n_centroids=4, nprobe=99, centroids="first")
    exact = K.knn_join(df, "vec_id", "embedding", df, "vec_id", "embedding",
                       k=2, metric="cosine")
    g = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    e = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    assert g == e


def test_knn_join_auto_route_brute_below_threshold(spark):
    """route='auto' stays exact below the threshold and delegates to
    ivf_search above it (results then probe-bounded but well-formed)."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F
    from polars_ds_extension_spark.operators import knn as K

    rng = np.random.RandomState(3)
    rows = [(i, [float(v) for v in rng.randn(6)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    below = K.knn_join(df.where("vec_id < 5"), "vec_id", "embedding",
                       df, "vec_id", "embedding", k=3, route="auto",
                       route_threshold=1000)
    exact = K.knn_join(df.where("vec_id < 5"), "vec_id", "embedding",
                       df, "vec_id", "embedding", k=3)
    assert sorted(map(tuple, below.select("vec_id", "rank", "neighbor_id")
                      .collect())) \
        == sorted(map(tuple, exact.select("vec_id", "rank", "neighbor_id")
                      .collect()))
    routed = K.knn_join(df.where("vec_id < 5"), "vec_id", "embedding",
                        df, "vec_id", "embedding", k=3, route="auto",
                        route_threshold=10)
    out = routed.collect()
    assert len(out) > 0
    assert all(r["rank"] <= 3 and r["neighbor_id"] != r["vec_id"]
               for r in out)
    with pytest.raises(ValueError):
        K.knn_join(df, "vec_id", "embedding", df, "vec_id", "embedding",
                   route="nope")


def test_ivf_search_empty_queries(spark):
    from polars_ds_extension_spark.operators import knn as K

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>")
    got = K.ivf_search(df.where("vec_id < 0"), "vec_id", "embedding",
                       df, "vec_id", "embedding", k=2, n_centroids=2,
                       centroids="first")
    assert got.count() == 0


# ------------------------------------------------- materialization lifetime

def _persistent_ids(spark) -> set:
    """Ids of the RDDs the SparkContext holds persisted (caches and
    local checkpoints)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_owned_releases_on_exit_and_on_raise(spark):
    from polars_ds_extension_spark._utils import materialize, owned

    before = _persistent_ids(spark)
    with owned():
        a = materialize(spark.range(50).select((F.col("id") * 2).alias("x")))
        assert a.count() == 50
        with owned():  # the innermost block owns what it materializes
            b = materialize(spark.range(50).select((F.col("id") * 3).alias("x")))
            b.count()
        assert not b.storageLevel.useMemory
        assert a.storageLevel.useMemory
        assert _persistent_ids(spark) - before
    assert not a.storageLevel.useMemory
    assert not (_persistent_ids(spark) - before)

    with pytest.raises(RuntimeError, match="boom"):
        with owned():
            c = materialize(spark.range(50).select((F.col("id") * 5).alias("x")))
            c.count()
            raise RuntimeError("boom")
    assert not c.storageLevel.useMemory
    assert not (_persistent_ids(spark) - before)


def test_escaping_frame_outside_any_block_is_cached_until_clear_cache(spark):
    """key_skew_profile's per-key counts escape into its (lazy) result:
    materialized outside any owned() block they are the caller's, and
    only the caller (here clearCache) drops them."""
    import contextvars

    from polars_ds_extension_spark._utils import owned
    from polars_ds_extension_spark.partition import key_skew_profile

    df = spark.range(200).select((F.col("id") % 7).alias("k"))
    before = _persistent_ids(spark)
    # an empty context: no enclosing owned() block (not even the
    # per-test one from conftest)
    out = contextvars.Context().run(key_skew_profile, df, "k")
    assert out.first()["n_keys"] == 7
    held = _persistent_ids(spark) - before
    assert held
    with owned():  # an unrelated block does not release it
        pass
    assert out.first()["n_rows"] == 200
    assert held <= _persistent_ids(spark)
    spark.catalog.clearCache()
    assert not (held & _persistent_ids(spark))


def test_connected_components_non_convergence_releases_everything(spark):
    from polars_ds_extension_spark.operators.dedup import connected_components

    chain = spark.range(40).select(F.col("id").alias("id_a"),
                                   (F.col("id") + 1).alias("id_b"))
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, small_graph=True, max_iters=1)
    assert not (_persistent_ids(spark) - before)


def _docs(spark, n: int = 12):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox jumps over document "),
                 (F.col("id") % 5).cast("string")).alias("text"))


def test_prebuilt_base_lsh_parameters_are_checked(spark):
    """A base built with shingle_k=12 passed to a shingle_k=8 call would
    band with the wrong geometry and silently lose every match."""
    from polars_ds_extension_spark.operators import dedup as D

    docs = _docs(spark)
    (base,) = D._overlap_minhash_bases([(docs, "doc_id", "text")],
                                       shingle_k=12)
    with pytest.raises(ValueError, match="_base was built"):
        D.build_near_dup_index(docs, "doc_id", "text", shingle_k=8,
                               _base=base)
    buckets, shingles = D.build_near_dup_index(docs, "doc_id", "text",
                                               shingle_k=8)
    with pytest.raises(ValueError, match="_base was built"):
        D.update_near_dup_index(docs, buckets, shingles, "doc_id", "text",
                                shingle_k=8, _base=base)
    with pytest.raises(ValueError, match="_base was built"):
        D.near_dup_against_prebuilt(docs, buckets, shingles, "doc_id",
                                    "text", shingle_k=8, _base=base)
    with pytest.raises(ValueError, match="_base was built"):
        D.near_dup_against_prebuilt(docs, buckets, shingles, "doc_id",
                                    "text", shingle_k=8, _base=docs)
    buckets, shingles = D.build_near_dup_index(docs, "doc_id", "text",
                                               _base=base)
    assert D.near_dup_against_prebuilt(docs, buckets, shingles, "doc_id",
                                       "text", _base=base).count() == 12


def test_overlap_minhash_bases_releases_on_failure(spark):
    from polars_ds_extension_spark.operators import dedup as D

    ok = _docs(spark)
    bad = ok.select("doc_id", F.when(F.col("doc_id") == 3,
                                     F.raise_error(F.lit("boom")))
                    .otherwise(F.col("text")).alias("text"))
    before = _persistent_ids(spark)
    with pytest.raises(Exception, match="boom"):
        D._overlap_minhash_bases([(ok, "doc_id", "text"),
                                  (bad, "doc_id", "text"),
                                  (_docs(spark, 20), "doc_id", "text")])
    assert not (_persistent_ids(spark) - before)


def test_run_threads_jobs_keep_caller_job_tags(spark):
    """A job launched on a helper thread is charged to its caller: it
    carries the caller's ``spark.job.tags`` local property. Results come
    back in order, and the first error re-raises after all thunks ran."""
    import uuid

    from polars_ds_extension_spark._utils import _run_threads

    def fail():
        raise ValueError("first")

    sc = spark.sparkContext
    tag = f"pds-thread-{uuid.uuid4().hex[:8]}"
    ran = []
    sc.addJobTag(tag)
    try:
        out = _run_threads([lambda: spark.range(7).count(),
                            lambda: sc.getLocalProperty("spark.job.tags")])
        with pytest.raises(ValueError, match="first"):
            _run_threads([fail, lambda: ran.append(1)])
    finally:
        sc.removeJobTag(tag)
    assert out[0] == 7 and tag in out[1].split(",")
    assert ran == [1]
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) >= 1


# ------------------------------------------------- memoized table schemas

def _jobs_in_group(spark, fn) -> int:
    """Number of Spark jobs `fn()` launches, read under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"pds-memo-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "jobs_in_group")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_launches_no_job(spark, sf_dir):
    from polars_ds_extension_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem")
    assert _jobs_in_group(
        spark, lambda: load_table(spark, sf_dir, "lineitem")) == 0


def test_load_table_schema_equals_inferring_read(spark, sf_dir):
    """The memoized schema is Spark's own inference, events.ts
    normalization included, on the first (miss) and second (hit) read."""
    import os

    from pyspark.sql.types import LongType

    from polars_ds_extension_spark.sources import TABLES, load_table

    for name in TABLES:
        ref = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and isinstance(ref.schema["ts"].dataType,
                                           LongType):
            ref = ref.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        for _ in range(2):
            assert load_table(spark, sf_dir, name).schema == ref.schema, name


def _write_one_file(path, table, mtime: float) -> None:
    import os

    import pyarrow.parquet as pq

    pq.write_table(table, str(path))
    os.utime(path, (mtime, mtime))


def test_rewritten_parquet_file_is_inferred_again(spark, tmp_path):
    """A same-size rewrite: only the modification time tells it apart."""
    import os

    import pyarrow as pa

    from polars_ds_extension_spark.sources import load_table

    path = tmp_path / "t.parquet"
    _write_one_file(path, pa.table({"a": [1, 2, 3]}), 1_600_000_000)
    size = os.path.getsize(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write_one_file(path, pa.table({"b": [4, 5, 6]}), 1_600_000_100)
    assert os.path.getsize(path) == size
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert sorted(r.b for r in df.collect()) == [4, 5, 6]


def test_overwritten_parquet_directory_is_inferred_again(spark, tmp_path):
    import os

    from polars_ds_extension_spark.sources import load_table

    path = str(tmp_path / "d.parquet")
    spark.range(4).select(F.col("id").alias("a")) \
        .write.mode("overwrite").parquet(path)
    os.utime(path, (1_600_000_000, 1_600_000_000))
    assert load_table(spark, str(tmp_path), "d").columns == ["a"]
    spark.range(3).select(F.col("id").cast("string").alias("b"),
                          (F.col("id") * 2).alias("c")) \
        .write.mode("overwrite").parquet(path)
    os.utime(path, (1_600_000_100, 1_600_000_100))
    df = load_table(spark, str(tmp_path), "d")
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("0", 0), ("1", 2), ("2", 4)]


def test_load_table_missing_path_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from polars_ds_extension_spark.sources import load_table

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")


# ------------------------------------------------------ session settings

def test_session_turns_dataframe_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_runtime_expression_error_keeps_its_exception_class(spark):
    """Call-site capture only adds a fragment to the query context; the
    error raised for a failing runtime expression stays the same."""
    from pyspark.errors import NumberFormatException

    bad = F.concat(F.lit("x"), F.col("id").cast("string")).cast("int")
    with pytest.raises(NumberFormatException, match="CAST_INVALID_INPUT"):
        spark.range(3).select(bad.alias("v")).collect()
