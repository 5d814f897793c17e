"""URL-seen dedup + deterministic sequence assignment, at scale.

* ``assign_seq`` — the FIFO queue's monotonic key
  (MVStoreCacheQueue.java:27-35) re-expressed without a single-task
  global window: range-repartition on the order key, sort within
  partitions, collect only the tiny per-partition counts to the
  driver, then add cumulative offsets per partition. O(partitions)
  driver data, fully parallel — survives a 10^10-row frontier. The
  caller sizes ``n_part`` to the level: a small level runs as the
  ``n_part=1`` case (one shuffle + one sort task, no sample or count
  job).

* ``first_wins`` — first-discovery-wins candidate dedup
  (DedupService.java:88-99 "first reference wins", made deterministic
  by ordering on (parent_seq, out_pos) instead of thread arrival).

* ``BloomPrefilter`` — the crawl's one URL-seen prefilter: a single
  driver-held bitmap of ``bloom_bits/8`` bytes, whatever the crawl
  size. Per-partition bitmaps are built executor-side over
  ``xxhash64(url)``, OR-reduced into it, broadcast, then applied as a
  vectorized membership test. A Bloom hit is only *probable*, so the
  exact ledger anti-join (CrawlerEntryLedger.java:361 exact-key dedup)
  always runs after it on the survivors — the filter only shrinks the
  anti-join's probe side. When the bitmap saturates the filter
  disables itself and the anti-join runs alone.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import bloom_bits_ok


def first_wins(
    df: DataFrame, key: str, order_cols: list[str], n_part: int | None = None
) -> DataFrame:
    """Keep the first row per key by deterministic order.

    ``n_part`` pins the clustering shuffle width explicitly: the
    window's own exchange is AQE-coalescible, and with compressible
    slim rows AQE happily folds a multi-100k-row level into ONE
    partition — serializing every Python stage downstream of the
    window. An explicit repartition-by-num is exempt from coalescing
    and already satisfies the window's clustering requirement.
    """
    if n_part is not None:
        df = df.repartition(n_part, F.col(key))
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def assign_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int,
    seq_col: str = "seq",
    n_part: int | None = None,
) -> DataFrame:
    """Add a dense 0-gap sequence ``start, start+1, ...`` following the
    total order given by ``order_cols`` (must be unique per row).

    Range-partition on the order key, sort within partitions, then
    number each partition from its cumulative offset. ``n_part=1`` is
    the small-level case: the one partition's offset is ``start``, so
    the range partitioner plans a plain single-partition exchange (no
    sampling job) and the per-partition count job and its cache are
    skipped — one shuffle and one sort task. Upstream lineage keeps its
    parallelism either way (a shuffle, not a ``coalesce``).

    The result carries ``_assign_seq_cache``, the frame to
    ``unpersist()`` once the result is materialized (long superstep
    loops would otherwise accumulate cached frames); with ``n_part=1``
    nothing was cached and the call is a no-op.
    """
    spark = df.sparkSession
    if n_part is None:
        n_part = max(2, spark.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n_part, *order_cols).sortWithinPartitions(
        *order_cols
    )
    if n_part == 1:
        offsets = {0: start}
    else:
        parted = parted.cache()
        counts = (
            parted.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .count()
            .collect()
        )
        sizes = {r["__pid"]: r["count"] for r in counts}
        offsets = {}
        acc = start
        for pid in sorted(sizes):
            offsets[pid] = acc
            acc += sizes[pid]
    cols = df.columns

    def add_seq(it):
        # called once per partition; batches arrive in partition order,
        # so a local running offset is exact.
        off = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if off is None:
                off = offsets[int(pdf["__pid"].iloc[0])]
            seqs = np.arange(off, off + len(pdf), dtype="int64")
            off += len(pdf)
            yield pdf.assign(**{seq_col: seqs}).drop(columns="__pid")

    schema = parted.withColumn(seq_col, F.lit(0).cast("long")).schema
    out = (
        parted.withColumn("__pid", F.spark_partition_id())
        .mapInPandas(add_seq, schema=schema)
        .select(*cols, seq_col)
    )
    out._assign_seq_cache = parted
    return out


class BloomPrefilter:
    """Driver-held Bloom bitmap over xxhash64 seen-keys.

    Built distributed (one bitmap per partition, OR-reduced via
    treeAggregate-style collect of packed uint64 words), applied
    vectorized. k=4 hash probes derived from the 64-bit key by
    splitting/mixing — no per-row Python.
    """

    K = 4
    # estimated fill ratio thresholds: past WARN_FILL the false-"maybe"
    # rate (fill^K) starts costing anti-join probes; past DISABLE_FILL
    # the filter rejects almost nothing, so it auto-disables — the
    # exact anti-join downstream keeps correctness either way, the
    # filter only ever shrinks its probe side.
    WARN_FILL = 0.5
    DISABLE_FILL = 0.75

    def __init__(self, bits: int = 1 << 22):
        if not bloom_bits_ok(bits):
            raise ValueError(
                f"bloom_bits must be a power of two >= 64, got {bits!r}"
            )
        self.bits = bits
        self.words = np.zeros(bits // 64, dtype=np.uint64)
        self.n_keys = 0  # inserts seen (duplicates counted once-ish)
        self.enabled = True
        self._warned = False

    def fill_ratio(self) -> float:
        """EXACT set-bit fraction of the bitmap (popcount, not the
        1-exp(-kn/m) estimate — the words are on the driver anyway)."""
        return float(
            np.unpackbits(self.words.view(np.uint8)).sum()
        ) / self.bits

    def _check_saturation(self) -> None:
        fill = self.fill_ratio()
        if fill >= self.DISABLE_FILL and self.enabled:
            self.enabled = False
            warnings.warn(
                f"BloomPrefilter saturated (fill={fill:.2f} >= "
                f"{self.DISABLE_FILL}, ~{self.n_keys} keys into "
                f"{self.bits} bits): auto-disabled — candidates now "
                f"flow straight to the exact anti-join. Size "
                f"bloom_bits for the expected URL count.",
                RuntimeWarning,
                stacklevel=3,
            )
        elif fill >= self.WARN_FILL and not self._warned:
            self._warned = True
            warnings.warn(
                f"BloomPrefilter filling up (fill={fill:.2f} >= "
                f"{self.WARN_FILL}, ~{self.n_keys} keys into "
                f"{self.bits} bits): false-'maybe' rate ~"
                f"{fill ** self.K:.2f} and climbing. Raise bloom_bits.",
                RuntimeWarning,
                stacklevel=3,
            )

    @staticmethod
    def _probe_positions(keys: np.ndarray, bits: int) -> list[np.ndarray]:
        k = keys.astype(np.uint64)
        mask = np.uint64(bits - 1)
        h2 = (k >> np.uint64(32)) | (k << np.uint64(32))
        out = []
        with np.errstate(over="ignore"):
            for i in range(BloomPrefilter.K):
                c = (0x9E3779B97F4A7C15 * (i + 1)) & ((1 << 64) - 1)
                p = k + np.uint64(i) * h2 + np.uint64(c)
                out.append((p & mask).astype(np.int64))
        return out

    def add_df(self, df: DataFrame, key_col: str = "seen_key") -> None:
        if not self.enabled:
            return  # saturated: stop paying the build job
        bits = self.bits

        def build(it):
            words = np.zeros(bits // 64, dtype=np.uint64)
            n = 0
            for pdf in it:
                if len(pdf) == 0:
                    continue
                n += len(pdf)
                keys = pdf[key_col].to_numpy()
                for pos in BloomPrefilter._probe_positions(keys, bits):
                    np.bitwise_or.at(
                        words, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
                    )
            if n:
                yield pd.DataFrame(
                    {"words": [words.tobytes()], "n_keys": [n]}
                )

        parts = (
            df.select(key_col)
            .mapInPandas(build, schema="words binary, n_keys long")
            .collect()
        )
        for row in parts:
            self.words |= np.frombuffer(row["words"], dtype=np.uint64)
            self.n_keys += row["n_keys"]
        self._check_saturation()

    def filter_candidates(
        self, df: DataFrame, key_col: str = "seen_key"
    ) -> tuple[DataFrame, DataFrame]:
        """Split candidates into (maybe_seen, definitely_new)."""
        if not self.enabled:
            # saturated filter: everything is "maybe" — the exact
            # anti-join sees the full candidate set, exactly as if no
            # prefilter existed
            return df, df.limit(0)
        spark = df.sparkSession
        bwords = spark.sparkContext.broadcast(self.words.tobytes())
        bits = self.bits

        @F.pandas_udf("boolean")
        def maybe_contains(keys: pd.Series) -> pd.Series:
            words = np.frombuffer(bwords.value, dtype=np.uint64)
            k = keys.to_numpy()
            hit = np.ones(len(k), dtype=bool)
            for pos in BloomPrefilter._probe_positions(k, bits):
                bitset = (
                    words[pos // 64] >> (pos % 64).astype(np.uint64)
                ) & np.uint64(1)
                hit &= bitset.astype(bool)
            return pd.Series(hit)

        # nondeterministic marker = plan-shape tool (single Arrow node
        # per branch; see urls.normalize_url_udf)
        maybe_contains = maybe_contains.asNondeterministic()
        flagged = df.withColumn("__maybe", maybe_contains(F.col(key_col)))
        return (
            flagged.filter(F.col("__maybe")).drop("__maybe"),
            flagged.filter(~F.col("__maybe")).drop("__maybe"),
        )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
    on_max_iter: str = "raise",
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: (id, component), where
    component = the minimum member id — the canonical-document pick a
    training-data dedup makes after any pair-join op
    (minhash/simhash/embedding/phash near-dup all emit (a, b) pairs;
    keeping one doc per component is the step that actually shrinks
    the corpus).

    Min-label propagation WITH pointer-jump doubling over the
    undirected pair graph: each round every vertex takes the min label
    among itself and its neighbors (one groupBy-min shuffle), then
    labels are short-circuited through their own targets
    (``component(v) <- component(component(v))``, one more equi-join)
    — the label-doubling step that makes a diameter-D chain converge
    in O(log D) rounds instead of O(D), so max_iter=20 covers chains
    of ~2^20 hops (boilerplate near-dup families chain far past the
    plain-propagation bound that silently truncated in r3). The loop
    runs driver-side with localCheckpoint per round so the plan never
    nests, and stops early on a zero-change round (one tiny count
    action per round — no row data ever collected).

    If ``max_iter`` rounds elapse with labels still changing the
    result is NOT a fixed point: ``on_max_iter`` = "raise" (default)
    raises RuntimeError, "warn" logs + warns and returns the
    truncated labels — never a silent wrong answer."""
    if on_max_iter not in ("raise", "warn"):
        raise ValueError("on_max_iter must be 'raise' or 'warn'")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
            .groupBy("id")
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = labels.join(neigh, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("n_comp", "component")
            ).alias("component"),
        )
        # pointer jump: component labels are themselves vertex ids, so
        # re-resolving each label through ITS current label halves the
        # remaining chain length every round (large-star flavor)
        ptr = stepped.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        nxt = (
            stepped.join(ptr, stepped.component == ptr.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("p_comp", "component"),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            nxt.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — components are "
            "truncated; raise max_iter"
        )
        if on_max_iter == "raise":
            raise RuntimeError(msg)
        import logging
        import warnings

        logging.getLogger(__name__).warning(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels
