"""Embedding similarity search: brute-force cosine top-k + LSH buckets.

Brute-force is the exactness baseline (small query set x full table,
a broadcast-join-shaped product); the scale path is sign-LSH
bucketing: b deterministic pseudo-random hyperplanes (hash-seeded, no
RNG state) -> b-bit signature -> candidates share a bucket, so the
expensive cosine only runs inside buckets. All arithmetic is JVM-side
(`F.aggregate`/`F.zip_with`); a vectorized pandas-UDF variant would
drop in for very wide vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textops import str_hash32


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Top-k cosine neighbors for the first ``n_queries`` vectors.

    (query_id, neighbor_id, cos) — neighbor != query; deterministic
    tie-break on neighbor_id.
    """
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    j = F.broadcast(q).crossJoin(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    )
    scored = j.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("qv"), F.col("embedding"))
            / (_norm(F.col("qv")) * _norm(F.col("embedding")))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk"
        )
    )


def _plane_weights(n_planes: int, n_dims: int) -> list[list[float]]:
    """Plane p's weight for (1-based) dim d: md5("p:d") first 8 hex
    digits mapped to [-1, 1). Bit-identical to the Spark/DuckDB
    expression ``conv(substr(md5(concat(p, ':', d)), 1, 8), 16, 10)
    / 2^31 - 1.0`` — h is an exact 32-bit integer, the power-of-two
    divide and the subtraction are exact IEEE-double ops on both
    engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            / 2147483648.0
            - 1.0
            for d in range(1, n_dims + 1)
        ]
        for p in range(n_planes)
    ]


def lsh_signatures(
    emb: DataFrame, n_planes: int = 16, max_dims: int = 1024
) -> DataFrame:
    """Sign-LSH signature: plane p's weight for dim d is a deterministic
    hash of (p, d) mapped to [-1, 1) — reproducible on any engine with
    md5, no RNG state shipped to executors.

    The (p, d) weight is data-INdependent, so it is precomputed
    driver-side into a literal matrix sized by a one-row dim probe
    (n_planes x dim doubles shipped once inside the plan) and each
    row only does the multiply-adds; the previous shape recomputed
    n_planes x dim md5s PER ROW (5M md5s for a 5k x 64-dim table),
    which at the 10^10-vector tier is the whole job. Same bits out
    (see _plane_weights). ``max_dims`` caps the literal width (plan
    size is linear in it — a 16x1024 literal tree measurably slows
    analysis+codegen); fixed-dim embedding columns only: the probe
    skips null rows, null-embedding rows get a null signature, and a
    row WIDER than the probed dim raises (zip_with would otherwise
    silently pad null weights into a meaningless signature)."""
    probe = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size(F.col("embedding")).alias("d"))
        .first()
    )
    n_dims = min(probe["d"], max_dims) if probe else max_dims
    w = _plane_weights(n_planes, n_dims)
    esz = F.size(F.col("embedding"))
    # row-local width assert: raises on ragged over-width embeddings
    # instead of emitting silently-null projections. assert_true
    # returns NULL when the condition holds, so the coalesce is a
    # no-op on the happy path.
    width_ok = F.assert_true(
        F.col("embedding").isNull() | (esz <= F.lit(n_dims)),
        F.concat(
            F.lit("lsh_signatures: embedding wider than probed dim "),
            F.lit(str(n_dims)),
            F.lit(" (got "),
            esz.cast("string"),
            F.lit(") — fixed-dim columns only"),
        ),
    )
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        # F.lit(list) emits ONE array Literal — F.array(*lits) would
        # be a CreateArray re-evaluated per row
        wcol = F.slice(F.lit(w[p]), 1, esz)
        proj = F.aggregate(
            F.zip_with(
                F.col("embedding"), wcol, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    sig = sig + F.coalesce(width_ok.cast("long"), F.lit(0))
    sig = F.when(F.col("embedding").isNull(), F.lit(None).cast("long")).otherwise(
        sig
    )
    return emb.select("vec_id", "label", sig.alias("lsh_sig"))


def lsh_bucket_stats(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """Bucket occupancy of the sign-LSH index — the health check that
    decides bucket fan-out before the ANN join."""
    return (
        lsh_signatures(emb, n_planes)
        .groupBy("lsh_sig")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-by-embedding
    op a training-data pipeline runs over billions of vectors.

    Scale shape: candidates are generated by a self-equi-join on the
    sign-LSH bucket (two near-identical vectors agree on every
    hyperplane sign with high probability), so the exact cosine runs
    only inside buckets — never as an all-pairs product. The
    within-bucket pairing is quadratic in bucket size, so degenerate
    buckets are capped loudly at ``max_bucket`` members
    (crawlspark.operators.buckets; ``lsh_bucket_stats`` is the
    matching health check — at 10^10 rows raise n_planes or run an
    exact pass over the dropped buckets' members).

    Returns (a, b, cos) with a < b and cos >= threshold.
    """
    from .buckets import cap_buckets

    sigs = lsh_signatures(emb, n_planes).select("vec_id", "lsh_sig")
    with_sig = emb.join(sigs, "vec_id").select(
        "vec_id", "embedding", "lsh_sig"
    )
    with_sig = cap_buckets(
        with_sig, ["lsh_sig"], max_bucket, "embedding_neardup_pairs"
    )
    l = with_sig.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        "lsh_sig",
    )
    r = with_sig.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        "lsh_sig",
    )
    pairs = l.join(r, "lsh_sig").filter(F.col("a") < F.col("b"))
    scored = pairs.select(
        "a",
        "b",
        (
            _dot(F.col("va"), F.col("vb"))
            / (_norm(F.col("va")) * _norm(F.col("vb")))
        ).alias("cos"),
    )
    return scored.filter(F.col("cos") >= threshold).select(
        "a", "b", F.round("cos", 6).alias("cos")
    )


def lsh_ann(
    emb: DataFrame, n_queries: int = 5, k: int = 3, n_planes: int = 8
) -> DataFrame:
    """ANN top-k restricted to same-LSH-bucket candidates — the shape
    that survives 10^10 rows (equi-join on bucket, no cross product)."""
    sigs = lsh_signatures(emb, n_planes).select("vec_id", "lsh_sig")
    with_sig = emb.join(sigs, "vec_id")
    q = with_sig.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "lsh_sig",
    )
    cand = F.broadcast(q).join(
        with_sig.select(
            F.col("vec_id").alias("neighbor_id"), "embedding", "lsh_sig"
        ),
        "lsh_sig",
    )
    scored = cand.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("qv"), F.col("embedding"))
            / (_norm(F.col("qv")) * _norm(F.col("embedding")))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def ann_recall(
    emb: DataFrame, n_queries: int = 5, k: int = 3, n_planes: int = 8
) -> DataFrame:
    """Recall@k of the bucketed ANN against exact brute-force top-k —
    the quality gauge for the LSH scale path. (query_id, recall).

    recall = |lsh_ann topk ∩ exact topk| / k per query; queries whose
    bucket contains no true neighbor report 0.0 rather than dropping
    out. Both sides rank on the identical fold arithmetic, so the
    metric is deterministic."""
    exact = cosine_topk(emb, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_ann(emb, n_queries, k, n_planes).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .count()
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("count"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall"),
        )
    )


def cosine_topk_vectorized(
    emb: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Arrow-vectorized brute-force top-k: one BLAS matmul per Arrow
    batch against the (tiny, driver-collected) query block — the
    drop-in replacement for ``cosine_topk`` when vectors are wide
    enough that per-element JVM folds lose to numpy. Same output
    contract (query_id, neighbor_id, cos, rk); cos may differ from the
    fold in the last float bit (different accumulation order), so the
    parity test compares neighbor SETS, not hashes.

    Scale shape: queries are a broadcast-sized block by assumption
    (ANN handles the big-query-set case); the table side streams
    through mapInPandas in Arrow batches — no shuffle before the
    final per-query top-k."""
    import numpy as np
    import pandas as pd

    # vec_id < n_queries also matches negative or duplicate ids: bound
    # the driver collect and refuse anything past the query block
    qrows = sorted(
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .limit(n_queries + 1)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if len(qrows) > n_queries:
        raise ValueError(
            f"more than n_queries={n_queries} rows have vec_id < "
            f"{n_queries}: vec_id must be unique and non-negative"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    spark = emb.sparkSession
    bq = spark.sparkContext.broadcast((qids, qm, qn))

    def score(batches):
        ids, Q, Qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            Mn = np.linalg.norm(M, axis=1)
            cos = (M @ Q.T) / np.outer(Mn, Qn)
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            n, q = cos.shape
            out = pd.DataFrame(
                {
                    "query_id": np.tile(ids, n),
                    "neighbor_id": np.repeat(nid, q),
                    "cos": cos.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk"
        )
    )


def hamming64_dup_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_dist: int = 3,
    n_bands: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column — (a, b,
    hamming), a < b, Hamming distance <= ``max_dist``.

    The multimodal companion to textops.simhash_dup_pairs: feed it the
    image payload's 64-bit perceptual hash (sources/docgen.phash64 —
    the FeaturedImageResolver-payload analog) and it is image near-dup
    dedup; feed it any other long fingerprint and it is generic
    signature dedup. Banded pigeonhole: ``n_bands`` disjoint 8-bit
    bands — a pair within distance d differs in at most d bands, so
    with d < n_bands it shares at least one band byte and the
    candidate step is a band+bucket equi-join (AQE-skew-safe), never
    an all-pairs product. The exact check is one row-local
    bit_count(xor). Degenerate buckets capped loudly (see
    operators.buckets). Requires ``max_dist < n_bands`` for recall=1.

    Sign-safe on two's-complement phashes: each band is masked after
    the shift, so arithmetic-shift sign fill never reaches a bucket.
    """
    if not max_dist < n_bands:
        raise ValueError("pigeonhole needs max_dist < n_bands")
    width = 64 // n_bands
    mask = (1 << width) - 1
    base = sigs.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig")
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("sig"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for i in range(n_bands)
        ]
    )
    buckets = base.select(
        "doc_id", "sig", F.explode(bands).alias("bb")
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    from .buckets import cap_buckets

    buckets = cap_buckets(
        buckets, ["band", "bucket"], max_bucket, "hamming64_dup_pairs"
    )
    x = buckets.alias("x")
    y = buckets.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


def ivf_centroids(n_cells: int, n_dims: int) -> list[list[float]]:
    """Deterministic unit-norm coarse centroids — the same hash-seeded
    construction as the LSH planes (_plane_weights), L2-normalized
    driver-side so cell assignment by max dot product is max cosine.
    No k-means iterations: for a hash-partitioned coarse quantizer the
    seeded directions are the deterministic stand-in (a learned
    codebook drops into the same literal slot)."""
    import math

    out = []
    for row in _plane_weights(n_cells, n_dims):
        n = math.sqrt(sum(x * x for x in row))
        out.append([x / n for x in row])
    return out


def _ivf_scored(emb: DataFrame, n_cells: int, n_dims: int) -> DataFrame:
    """(vec_id, label, embedding, j, score): dot of each vector against
    each centroid literal — truncated to min(len, n_dims) dims on both
    sides, the same index window the oracle folds over."""
    cents = ivf_centroids(n_cells, n_dims)
    v = F.slice(F.col("embedding"), 1, F.lit(n_dims))
    pairs = [
        F.struct(
            F.lit(j).alias("j"),
            _dot(v, F.slice(F.lit(c), 1, F.size(v))).alias("score"),
        )
        for j, c in enumerate(cents)
    ]
    return emb.select(
        "vec_id", "label", "embedding", F.explode(F.array(*pairs)).alias("cs")
    ).select(
        "vec_id",
        "label",
        "embedding",
        F.col("cs.j").alias("j"),
        F.col("cs.score").alias("score"),
    )


def ivf_cells(
    emb: DataFrame, n_cells: int = 16, n_dims: int = 64
) -> DataFrame:
    """IVF coarse assignment: (vec_id, label, cell) — each vector joins
    its max-dot centroid (ties broken by lowest cell id). ONE pass over
    the data; the centroid matrix rides in the plan as literals."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    return (
        _ivf_scored(emb, n_cells, n_dims)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", F.col("j").alias("cell"))
    )


def ivf_cell_stats(
    emb: DataFrame, n_cells: int = 16, n_dims: int = 64
) -> DataFrame:
    """Cell occupancy — the IVF analog of lsh_bucket_stats (decides
    n_probe / codebook size before the ANN join)."""
    return (
        ivf_cells(emb, n_cells, n_dims)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    n_dims: int = 64,
) -> DataFrame:
    """IVF ANN top-k: queries probe their ``n_probe`` best cells and
    the exact cosine runs only against vectors assigned there — the
    inverted-file scale path beside the sign-LSH one (lsh_ann). At
    10^10 vectors the cells frame is a bucketed table and this is one
    cell-equi-join instead of a brute-force product; recall tunes with
    n_probe exactly like a real IVF index.
    (query_id, neighbor_id, cos, rk)."""
    # score EVERY vector against the codebook exactly once; the slim
    # (vec_id, j, rk) rank frame is checkpointed and both the cell
    # assignment (rk = 1) and the query probes (rk <= n_probe) are
    # filters over it — the 16-centroid scoring tree appears once in
    # the whole plan (at production scale this is the materialized
    # bucketed cells table)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    ranked = (
        _ivf_scored(emb, n_cells, n_dims)
        .withColumn("rk", F.row_number().over(wq))
        .select("vec_id", "j", "rk")
        .localCheckpoint(eager=True)
    )
    cells = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("j").alias("cell")
    )
    base = emb.join(cells, "vec_id")
    probes = (
        ranked.filter(
            (F.col("vec_id") < n_queries) & (F.col("rk") <= n_probe)
        )
        .join(emb.filter(F.col("vec_id") < n_queries), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("j").alias("cell"),
        )
    )
    cand = probes.join(base, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("qv"), F.col("embedding"))
            / (_norm(F.col("qv")) * _norm(F.col("embedding")))
        ).alias("c"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("c", 6).alias("cos"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Data-trained IVF (deterministic sampled k-means)
# ---------------------------------------------------------------------------
#
# The fixed hash-seeded codebook above (ivf_centroids) ignores the
# data distribution; real embedding corpora cluster, so untrained
# cells give unknown recall at small n_probe. ivf_train fits the
# codebook to the data with Lloyd iterations over a capped
# deterministic sample — engineered so the ENTIRE fit is
# bit-reproducible on any engine (the DuckDB oracle re-derives the
# identical centroids):
#
#   * sample   = first ``sample_cap`` vectors ordered by
#                md5(vec_id) — deterministic, data-dependent, no RNG.
#   * seeds    = the first ``n_cells`` of that same ordering (their
#                raw values — no arithmetic, so exact on any engine).
#   * assign   = argmax_j round(cosine(v, c_j), 6), ties to lowest j.
#                The fold arithmetic is the verified-bit-identical
#                _dot/_norm shape; the 6-digit round absorbs nothing
#                in practice (folds are bit-equal) but pins the
#                contract.
#   * update   = per-cell per-dim mean computed in INTEGER
#                micro-units: sum(micro(x))::long / (n * 1e6), where
#                micro(x) = floor(x*1e6 + 0.5) (ceil(x*1e6 - 0.5)
#                when negative) — half-away-from-zero evaluated on
#                the BINARY double. Spark's round() rounds the
#                shortest decimal repr while DuckDB rounds the binary
#                value, and they disagree on repr-boundary inputs
#                (seen live: a mean of 0.0318095 at sf0.01); the
#                floor form is plain IEEE arithmetic every engine
#                computes bit-identically. Integer addition is
#                order-independent, so the mean is exactly
#                reproducible regardless of partition order — the one
#                place float summation order would otherwise leak
#                engine nondeterminism into the codebook. Empty cells
#                keep their previous centroid. The projected codebook
#                (ivf_trained_centroids' ``w``) quantizes the final
#                mean through the same micro() for the same reason.
#
# Training cost at scale: the sample is capped (one TakeOrdered over
# a projection), each iteration is one shuffle over <= sample_cap
# rows, and the resulting codebook rides in the plan as literals just
# like the fixed one — assignment of the full corpus stays a single
# scan with no join.


def _micro_half_away(x: float) -> int:
    """micro(x): x*1e6 rounded half-away-from-zero on the binary
    double — floor/ceil arithmetic only, so Python, Spark, and DuckDB
    agree bit-for-bit (decimal-repr round() does not; see the
    bit-reproducibility contract above)."""
    import math

    y = x * 1e6
    return int(math.floor(y + 0.5)) if y >= 0 else int(math.ceil(y - 0.5))


def _fold_norm(c: list[float]) -> float:
    """sqrt of the left-fold sum of squares — the exact arithmetic
    _norm / DuckDB list_sum run, applied driver-side to a centroid."""
    import math

    acc = 0.0
    for x in c:
        acc = acc + x * x
    return math.sqrt(acc)


def _trained_scored(
    emb: DataFrame,
    cents: list[list[float]],
    n_dims: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """(..., j, score): round-6 cosine of each vector (sliced to
    ``n_dims``) against each trained-centroid literal. Centroid norms
    are exact driver-side folds, so the whole score is bit-identical
    to the oracle's runtime fold."""
    v = F.slice(F.col(vec_col), 1, n_dims)
    pairs = []
    for j, c in enumerate(cents):
        cos = _dot(v, F.slice(F.lit(c), 1, F.size(v))) / (
            _norm(v) * F.lit(_fold_norm(c))
        )
        pairs.append(
            F.struct(F.lit(j).alias("j"), F.round(cos, 6).alias("score"))
        )
    return emb.select(
        "*", F.explode(F.array(*pairs)).alias("__cs")
    ).select(
        *emb.columns,
        F.col("__cs.j").alias("j"),
        F.col("__cs.score").alias("score"),
    )


def _half_up(x: float, digits: int) -> float:
    """Spark's round(col, d) semantics (BigDecimal HALF_UP over the
    shortest decimal repr) applied driver-side."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    )


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-fold dot product — the exact op order _dot runs."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def ivf_train(
    emb: DataFrame,
    n_cells: int = 16,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
) -> list[list[float]]:
    """Deterministic sampled k-means codebook: ``n_cells`` centroids
    fitted with ``n_iters`` Lloyd iterations over the md5-ordered
    sample (see module section comment for the bit-reproducibility
    contract). Returns the centroids as exact python doubles — feed
    them to ivf_trained_* or straight into _trained_scored.

    The fit runs DRIVER-SIDE over the collected sample: the sample is
    capped at ``sample_cap`` rows by construction (one TakeOrdered
    job, a bounded dim-class collect — NOT O(data)), and a driver
    loop replaces what was previously ~3 Spark jobs per Lloyd
    iteration of pure scheduler overhead on <=4096 rows. Arithmetic
    is kept bit-identical to the distributed expressions (left-fold
    dot/norm, HALF_UP round-6 scores, binary half-away micro-unit
    means); tests/test_similarity.py asserts this driver fit equals
    the all-Spark fit (_ivf_train_spark) on the fixture."""
    rows = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            F.md5(F.col("vec_id").cast("string")).alias("__ord"),
            F.slice(F.col("embedding"), 1, n_dims)
            .cast("array<double>")
            .alias("v"),
        )
        .orderBy("__ord")
        .limit(sample_cap)
        .collect()
    )
    vecs = [[float(x) for x in r["v"]] for r in rows]
    if not vecs:
        raise ValueError("ivf_train: no non-null embeddings to sample")
    cents = [list(v) for v in vecs[:n_cells]]
    import math

    vnorms = [
        math.sqrt(_fold_dot(v, v)) for v in vecs
    ]  # _norm's fold: sum of squares left-to-right, then sqrt
    micros = [
        [_micro_half_away(x) for x in v] for v in vecs
    ]  # micro(x)::long, precomputed once (iteration-invariant)
    for _ in range(n_iters):
        cnorms = [_fold_norm(c) for c in cents]
        sums = [[0] * n_dims for _ in range(n_cells)]
        counts = [0] * n_cells
        for v, nv, mv in zip(vecs, vnorms, micros):
            best_j = 0
            best_s = None
            for j in range(n_cells):
                s = _half_up(_fold_dot(v, cents[j]) / (nv * cnorms[j]), 6)
                if best_s is None or s > best_s:
                    best_j, best_s = j, s
            counts[best_j] += 1
            row = sums[best_j]
            for p, m in enumerate(mv):
                row[p] += m
        cents = [
            [sums[j][p] / (counts[j] * 1_000_000) for p in range(n_dims)]
            if counts[j]
            else list(cents[j])
            for j in range(n_cells)
        ]
    return cents


def _ivf_train_spark(
    emb: DataFrame,
    n_cells: int = 16,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
) -> list[list[float]]:
    """The all-Spark Lloyd loop ivf_train replaced (kept as the
    equivalence oracle for the driver-side fit; also the shape a
    >sample_cap-per-partition variant would scale through)."""
    samp = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            F.md5(F.col("vec_id").cast("string")).alias("__ord"),
            F.slice(F.col("embedding"), 1, n_dims)
            .cast("array<double>")
            .alias("v"),
        )
        .orderBy("__ord")
        .limit(sample_cap)
        .localCheckpoint(eager=True)
    )
    seeds = samp.orderBy("__ord").limit(n_cells).collect()
    cents = [[float(x) for x in r["v"]] for r in seeds]
    for _ in range(n_iters):
        asg = (
            _trained_scored(samp, cents, n_dims, vec_col="v")
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("__ord").orderBy(
                        F.desc("score"), F.asc("j")
                    )
                ),
            )
            .filter(F.col("__rk") == 1)
            .select(F.col("j").alias("cell"), "v")
        )
        stats = (
            asg.select("cell", F.posexplode("v").alias("pos", "x"))
            .withColumn("__y", F.col("x") * F.lit(1e6))
            .withColumn(
                "micro",
                F.when(
                    F.col("__y") >= 0, F.floor(F.col("__y") + F.lit(0.5))
                )
                .otherwise(F.ceil(F.col("__y") - F.lit(0.5)))
                .cast("long"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("micro").alias("s"), F.count("*").alias("n"))
            .collect()
        )  # bounded: n_cells * n_dims rows — a dim collect, not data
        by_cell: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"] / (
                r["n"] * 1_000_000
            )
        cents = [
            [dims[p] for p in sorted(dims)]
            if (dims := by_cell.get(j))
            else list(cents[j])
            for j in range(n_cells)
        ]
    return cents


def _codebook(
    emb: DataFrame,
    centroids: list[list[float]] | None,
    n_cells: int,
    n_dims: int,
    n_iters: int,
    sample_cap: int,
) -> list[list[float]]:
    """The caller's codebook, or a freshly trained one when none is
    given. An empty codebook is an error, not a request to retrain."""
    if centroids is None:
        return ivf_train(emb, n_cells, n_dims, n_iters, sample_cap)
    if not centroids:
        raise ValueError("centroids must hold at least one centroid")
    return centroids


def ivf_trained_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
) -> DataFrame:
    """The trained codebook as a frame: (cell, pos, w) with pos
    1-based and w rounded to 6 — pins the k-means fit itself to the
    oracle, not just its downstream assignments."""
    cents = ivf_train(emb, n_cells, n_dims, n_iters, sample_cap)
    spark = emb.sparkSession
    rows = [
        # quantize through micro() — NOT round(w, 6): the means are
        # micro-unit rationals that land on decimal half-boundaries,
        # where Spark's repr-round and the oracle's binary-round split
        (j, d + 1, _micro_half_away(w) / 1e6)
        for j, c in enumerate(cents)
        for d, w in enumerate(c)
    ]
    return spark.createDataFrame(rows, "cell int, pos int, w double")


def ivf_trained_cell_stats(
    emb: DataFrame,
    n_cells: int = 16,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Cell occupancy under the TRAINED codebook — the health gauge
    that shows the fit tracking the data (balanced cells) where the
    fixed codebook piles everything into a few."""
    cents = _codebook(emb, centroids, n_cells, n_dims, n_iters, sample_cap)
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    return (
        _trained_scored(
            emb.select("vec_id", "label", "embedding"), cents, n_dims
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy(F.col("j").alias("cell"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


def ivf_trained_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k over the trained codebook — same single-scan
    rank-frame shape as ivf_topk (cells = rk 1, probes = rk <=
    n_probe, exact cosine only inside probed cells)."""
    cents = _codebook(emb, centroids, n_cells, n_dims, n_iters, sample_cap)
    wq = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    ranked = (
        _trained_scored(emb.select("vec_id", "embedding"), cents, n_dims)
        .withColumn("rk", F.row_number().over(wq))
        .select("vec_id", "j", "rk")
        .localCheckpoint(eager=True)
    )
    cells = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("j").alias("cell")
    )
    base = emb.select("vec_id", "embedding").join(cells, "vec_id")
    probes = (
        ranked.filter(
            (F.col("vec_id") < n_queries) & (F.col("rk") <= n_probe)
        )
        .join(emb.filter(F.col("vec_id") < n_queries), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("j").alias("cell"),
        )
    )
    cand = probes.join(base, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("qv"), F.col("embedding"))
            / (_norm(F.col("qv")) * _norm(F.col("embedding")))
        ).alias("c"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("c", 6).alias("cos"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def ivf_recall(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Recall@k of the TRAINED IVF path against exact brute-force
    top-k — the ann_recall analog for the inverted-file index.
    (query_id, n_hits, recall); queries whose probed cells hold no
    true neighbor report 0.0 rather than dropping out."""
    cents = _codebook(emb, centroids, n_cells, n_dims, n_iters, sample_cap)
    exact = cosine_topk(emb, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_trained_topk(
        emb, n_queries, k, n_cells, n_probe, n_dims, centroids=cents
    ).select("query_id", F.col("neighbor_id").alias("nb"))
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.neighbor_id == approx.nb),
        "left",
    ).select(exact.query_id, approx.nb)
    return (
        hits.groupBy("query_id")
        .agg(F.count("nb").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.lit(float(k))).alias("recall"),
        )
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    n_dims: int = 64,
    n_iters: int = 2,
    sample_cap: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. Cluster with the
    trained IVF codebook (the paper's k-means step — reuses
    ``ivf_train``'s deterministic sampled fit), then inside each
    cluster drop every vector whose cosine to a LOWER-id cluster-mate
    reaches ``threshold``; the lowest id of each semantic group
    survives (a deterministic, RNG-free canonical pick — the paper
    keeps a random representative).

    Returns one row per input vector: (vec_id, cell, keep BOOLEAN).
    Downstream `.filter("keep")` is the pruned corpus; the cell column
    keeps the cluster diagnosable.

    Scale shape: the quadratic term never leaves a cluster — pairs
    come from a cell equi-join, exactly the bound the paper introduces
    clustering for. At corpus scale raise ``n_cells`` so cells stay
    O(n/k) small (the reference regime is ~100k clusters for web-scale
    corpora); only (vec_id, cell, embedding) crosses the shuffle, and
    the codebook rides along as literals (no join for assignment).
    """
    cents = _codebook(emb, centroids, n_cells, n_dims, n_iters, sample_cap)
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("j"))
    asg = (
        _trained_scored(emb.select("vec_id", "embedding"), cents, n_dims)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("j").alias("cell"), "embedding")
        .localCheckpoint(eager=True)
    )
    lo = asg.select(
        F.col("vec_id").alias("a"), "cell", F.col("embedding").alias("va")
    )
    hi = asg.select(
        F.col("vec_id").alias("b"), "cell", F.col("embedding").alias("vb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    removed = (
        lo.join(hi, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(cos >= F.lit(float(threshold)))
        .select(F.col("b").alias("vec_id"))
        .distinct()
        .withColumn("__rm", F.lit(True))
    )
    return asg.join(removed, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(~F.col("__rm"), F.lit(True)).alias("keep"),
    )
