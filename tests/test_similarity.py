"""Similarity-search operators: vectorized brute-force parity and
ANN recall sanity."""

import pytest
from pyspark.sql import functions as F

from crawlspark.operators.similarity import (
    ann_recall,
    cosine_topk,
    cosine_topk_vectorized,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_vectorized_matches_fold_topk(spark):
    emb = _emb(spark)
    a = cosine_topk(emb, n_queries=5, k=5).toPandas()
    b = cosine_topk_vectorized(emb, n_queries=5, k=5).toPandas()
    # same neighbor sets per query (cos may differ in the last bit)
    ga = a.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    gb = b.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    assert ga == gb
    # and the scores agree to float tolerance
    m = a.merge(b, on=["query_id", "neighbor_id"], suffixes=("_a", "_b"))
    assert (abs(m["cos_a"] - m["cos_b"]) < 1e-9).all()


def test_vectorized_rejects_duplicate_query_ids(spark):
    """Duplicate vec_ids below n_queries would grow the driver-collected
    query block past its bound: refused, not silently collected."""
    emb = _emb(spark).filter(F.col("vec_id") < 3)
    dup = emb.unionByName(emb)
    with pytest.raises(ValueError, match="n_queries"):
        cosine_topk_vectorized(dup, n_queries=3, k=2)


def test_ann_recall_bounds(spark):
    # fewer planes at the tiny SF so buckets hold real candidates
    r = ann_recall(_emb(spark), n_planes=4).toPandas()
    assert len(r) == 5
    assert ((r["recall"] >= 0.0) & (r["recall"] <= 1.0)).all()
    # buckets keep the nearest neighbors often enough to be useful
    assert r["recall"].mean() > 0.0


def test_ivf_topk_recall_vs_exact(spark):
    """Probing ALL cells makes IVF equal exact search (the sharp
    deterministic property: candidates == everything), and recall is
    monotone in n_probe — partial probing returns a subset of cells'
    true scores, never wrong scores."""
    from crawlspark.operators.similarity import ivf_topk

    emb = _emb(spark)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(emb, 5, 3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in ivf_topk(emb, 5, 3, n_cells=16, n_probe=16).collect()
    }
    assert full == exact  # n_probe = n_cells == brute force
    part = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in ivf_topk(emb, 5, 3, n_cells=16, n_probe=4).collect()
    }
    hits = set(exact) & set(part)
    assert hits  # partial probing still finds true neighbors...
    for key in hits:  # ...with the identical fold scores
        assert exact[key] == part[key]


def test_lsh_signatures_null_and_ragged_guard(spark):
    """Probe skips null embeddings (r3 raised TypeError when row 1 was
    null); null rows get a null signature; a row WIDER than the probed
    dim raises instead of silently projecting null weights."""
    import pytest

    from crawlspark.operators.similarity import lsh_signatures

    schema = "vec_id long, label string, embedding array<float>"
    ok = spark.createDataFrame(
        [(1, "x", None), (2, "x", [1.0, -2.0, 0.5]), (3, "x", [0.1, 0.2, 0.3])],
        schema,
    )
    rows = {r["vec_id"]: r["lsh_sig"] for r in lsh_signatures(ok).collect()}
    assert rows[1] is None
    assert rows[2] is not None and rows[3] is not None
    # same non-null rows produce identical signatures without the null
    no_null = spark.createDataFrame(
        [(2, "x", [1.0, -2.0, 0.5]), (3, "x", [0.1, 0.2, 0.3])], schema
    )
    rows2 = {
        r["vec_id"]: r["lsh_sig"] for r in lsh_signatures(no_null).collect()
    }
    assert rows2 == {k: v for k, v in rows.items() if v is not None}
    ragged = spark.createDataFrame(
        [(1, "x", [1.0, 2.0]), (2, "x", [1.0, 2.0, 3.0, 4.0])], schema
    )
    with pytest.raises(Exception, match="wider than probed dim"):
        lsh_signatures(ragged).collect()


def test_ivf_driver_fit_equals_spark_fit(spark):
    """The driver-side Lloyd loop (bounded-sample collect) must be
    BIT-identical to the all-Spark fit it replaced — same fold order,
    same HALF_UP rounding, same integer micro-unit means."""
    from crawlspark.operators.similarity import _ivf_train_spark, ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert ivf_train(emb) == _ivf_train_spark(emb)


def test_semdedup_drops_injected_copies_keeps_originals(spark):
    """SemDeDup keep/drop semantics on planted semantic duplicates:
    a scalar multiple of a vector is direction-identical (cos == 1
    up to float error), lands in the same trained cell, and must be
    dropped in favor of the lower id; every original survives
    because injected ids are all higher."""
    from pyspark.sql import functions as F

    from crawlspark.operators.similarity import semdedup

    emb = _emb(spark).select("vec_id", "embedding")
    injected = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(injected)
    n_in = both.count()
    out = semdedup(both, threshold=0.9).toPandas()
    assert len(out) == n_in  # one verdict per input vector
    verdict = dict(zip(out["vec_id"], out["keep"]))
    cell = dict(zip(out["vec_id"], out["cell"]))
    for i in range(10):
        assert verdict[i], "original must survive (lowest id wins)"
        assert not verdict[i + 100000], "scaled copy must be dropped"
        assert cell[i] == cell[i + 100000], (
            "direction-preserving copy must land in the same cell"
        )
    # determinism: a second run returns the identical verdict map
    out2 = semdedup(both, threshold=0.9).toPandas()
    assert dict(zip(out2["vec_id"], out2["keep"])) == verdict


def test_semdedup_threshold_monotone(spark):
    """Raising the threshold can only KEEP more: the removed set at
    t2 > t1 is a subset of the removed set at t1."""
    from crawlspark.operators.similarity import ivf_train, semdedup

    emb = _emb(spark).select("vec_id", "embedding")
    cents = ivf_train(emb)  # fit once, share across both thresholds
    loose = semdedup(emb, threshold=0.5, centroids=cents).toPandas()
    tight = semdedup(emb, threshold=0.99, centroids=cents).toPandas()
    rm_loose = set(loose.loc[~loose["keep"], "vec_id"])
    rm_tight = set(tight.loc[~tight["keep"], "vec_id"])
    assert rm_tight <= rm_loose


def test_empty_codebook_is_rejected_not_retrained(spark):
    """``centroids=[]`` is a caller error: every trained-codebook entry
    point raises instead of silently fitting a fresh codebook."""
    import pytest

    from crawlspark.operators import similarity as S

    emb = _emb(spark)
    for fn in (
        S.ivf_trained_cell_stats,
        S.ivf_trained_topk,
        S.ivf_recall,
        S.semdedup,
    ):
        with pytest.raises(ValueError, match="centroids"):
            fn(emb, centroids=[])
