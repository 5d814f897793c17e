"""The crawl engine's cross-level state: every state is a fold of level
rows.

A state outlives a level: the URL-seen keys, the checksum and
meta-checksum registries, the politeness host state, the redirect bad
events and the sitemap trigger hosts. Each is defined by a rows
function over one frame of a level and an optional fold
(``engine_states``), and each level is added the same way twice over:
live, from the level's checkpointed frames (``CrawlEngine._end_level``);
on resume, from one read of the committed level parts
(``CrawlEngine.resume``). So the only durable form of a state is the
parts it is computed from, and every level write stays O(level).

* A state without a fold is a set. It keeps one lazy projection per
  level and serves their union: O(level) new work per level and no
  nested lineage. Its inputs are checkpoints, so a projection never
  re-runs the plan of the level it came from.
* A state with a fold is one frame. Each ``add`` folds the level's
  rows into the previous frame and checkpoints the result on the
  engine's pool; the checkpoint lands at the next read (``land``), so
  it overlaps the level's write-behind commit.

On a 10^10-URL cluster the set states would not fit executor memory:
there the URL-seen anti-join runs against the ledger table bucketed by
``seen_key`` (bucket-pruned by the Bloom pass) — same dataflow,
different storage tier.
"""

from __future__ import annotations

from concurrent.futures import Executor
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig

Rows = Callable[[DataFrame], DataFrame]


class LevelState:
    """One cross-level state: ``rows`` maps a level's ``source`` frame
    (see ``CrawlEngine._add_level``) to rows of ``schema``; ``fold``,
    when given, reduces the previous state unioned with a level's rows
    to the new state."""

    def __init__(
        self,
        spark: SparkSession,
        pool: Executor,
        source: str,
        schema: str,
        rows: Rows,
        fold: Rows | None = None,
    ):
        self._spark = spark
        self._pool = pool
        self.source = source
        self.schema = schema
        self.rows = rows
        self.fold = fold
        # a set's per-level projections; a fold's latest checkpoint
        self._parts: list[DataFrame] = []
        self._fut = None

    def add(self, frame: DataFrame) -> None:
        new = self.rows(frame)
        if self.fold is None:
            self._parts.append(new)
            return
        self.land()
        if self._parts:
            new = self._parts[-1].unionByName(new)
        self._fut = self._pool.submit(self.fold(new).localCheckpoint, True)

    def land(self) -> None:
        """Block on the fold submitted by the last ``add``."""
        if self._fut is not None:
            fut, self._fut = self._fut, None
            self._parts = [fut.result()]

    def read(self) -> DataFrame:
        """The state's frame. Before any ``add`` it is empty in a form
        the optimizer can see (a false filter plans as an empty
        relation), so joins against it are pruned."""
        self.land()
        if not self._parts:
            return self._spark.createDataFrame([], self.schema).filter(
                F.lit(False)
            )
        out = self._parts[0]
        for part in self._parts[1:]:
            out = out.unionByName(part)
        return out

    def release(self) -> list[DataFrame]:
        """Forget every frame this state holds and return them for the
        caller to unpersist."""
        self.land()
        out, self._parts = self._parts, []
        return out


# -- rows and folds over ledger rows (LEDGER_SCHEMA) -----------------------


def key_rows(level: DataFrame) -> DataFrame:
    """URL-seen keys (url, seen_key), unique per url: a PROCESSED row
    is skipped, its QUEUED row already contributed the key."""
    return level.filter(F.col("status") != "PROCESSED").select(
        "url", "seen_key"
    )


def _registry_rows(level: DataFrame) -> DataFrame:
    """(checksum, ck_seen) of committed (NEW/MODIFIED) rows."""
    return level.filter(F.col("outcome").isin("NEW", "MODIFIED")).select(
        "checksum", F.lit(True).alias("ck_seen")
    )


def _meta_registry_rows(level: DataFrame) -> DataFrame:
    """(meta_ck, mk_seen) of meta checksums registered with the dedup
    service."""
    return level.filter(F.col("meta_tracked")).select(
        "meta_ck", F.lit(True).alias("mk_seen")
    )


def _host_rows(cfg: CrawlConfig) -> Rows:
    """Politeness host-state rows (host, last_sched_ms): each fetched
    row's slot under its politeness scope key (host for SITE; a global
    or seq-slot sentinel otherwise), kept in the ``host`` column.
    PREMATURE rows never held a politeness slot, so they must not
    advance the clock."""
    from ..operators.politeness import scope_key_col

    key = scope_key_col(cfg.delay_scope, cfg.delay_threads)

    def rows(level: DataFrame) -> DataFrame:
        return level.filter(
            (F.col("status") == "PROCESSED") & (F.col("outcome") != "PREMATURE")
        ).select(key.alias("host"), F.col("sched_ms").alias("last_sched_ms"))

    return rows


def _latest_sched(rows: DataFrame) -> DataFrame:
    """Host-state fold: the latest slot per scope key."""
    return rows.groupBy("host").agg(
        F.max("last_sched_ms").alias("last_sched_ms")
    )


def _event_rows(level: DataFrame) -> DataFrame:
    """Ledger rows -> event rows for the redirect one-requeue rule: an
    enqueue event (QUEUED/REJECTED row) happened at its parent's
    processing turn; a process event (PROCESSED row) at its own seq."""
    return level.select(
        F.col("url"),
        F.when(F.col("status") == "PROCESSED", F.col("seq"))
        .otherwise(F.col("parent_seq"))
        .alias("turn"),
        F.col("status").alias("kind"),
        F.col("outcome").alias("ev_outcome"),
    )


def _latest_bad_events(ev: DataFrame) -> DataFrame:
    """Bad-event fold for the redirect one-requeue rule
    (WebImporterPipelineUtil.java:103-160), which can fire only on a
    url whose latest ledger event is a PROCESSED row with a bad
    outcome: keep, per url, only the latest event, and only when it is
    such a row. Every historical event's turn is strictly below any
    live parent_seq (seqs are level-monotonic), so "latest event
    before the redirecting source's turn" needs only the per-url
    LATEST historical event; a later QUEUED event (a requeue)
    supersedes and drops the url. The state stays a handful of rows,
    O(level + |bad|) per level; unioning the FULL event history and
    scanning it every superstep was a measured crawl-loop regression."""
    from ..functions.checksums import GOOD_OUTCOMES

    latest = ev.groupBy("url").agg(
        F.max_by(
            F.struct("turn", "kind", "ev_outcome"), F.col("turn")
        ).alias("e")
    )
    return latest.filter(
        (F.col("e.kind") == "PROCESSED")
        & ~F.coalesce(
            F.col("e.ev_outcome").isin(*GOOD_OUTCOMES), F.lit(False)
        )
    ).select(
        "url",
        F.col("e.turn").alias("turn"),
        F.col("e.kind").alias("kind"),
        F.col("e.ev_outcome").alias("ev_outcome"),
    )


def engine_states(
    spark: SparkSession, pool: Executor, cfg: CrawlConfig, sitemaps: bool
) -> dict[str, LevelState]:
    """Every state that outlives a level, by name. ``sitemaps``: the
    crawl resolves sitemaps."""

    def state(*args) -> LevelState:
        return LevelState(spark, pool, *args)

    states = {
        # the URL-seen anti-join's build side
        "keys": state("level", "url string, seen_key long", key_rows),
        # unique per checksum by construction: a checksum commits at
        # most once per run, later hits become DUPLICATE
        "registry": state(
            "processed", "checksum string, ck_seen boolean", _registry_rows
        ),
        "host_state": state(
            "processed",
            "host string, last_sched_ms long",
            _host_rows(cfg),
            _latest_sched,
        ),
    }
    if cfg.metadata_dedup:
        # MetadataDedupStage's findOrTrackMetadata store
        states["meta_registry"] = state(
            "processed", "meta_ck string, mk_seen boolean", _meta_registry_rows
        )
    if cfg.redirect_requeue:
        states["bad_events"] = state(
            "level",
            "url string, turn long, kind string, ev_outcome string",
            _event_rows,
            _latest_bad_events,
        )
    if sitemaps:
        # hosts whose sitemap resolution already ran: a host's first
        # candidate REACHING the stage marks it resolved, even if its
        # rows all die at dedup afterwards (the oracle's and
        # GenericSitemapResolver.java's semantics). That is not
        # recoverable from committed ledger rows, so each resolving
        # level commits its trigger hosts as a sidecar part (the
        # reference likewise persists its resolvedSites cache in the
        # store), which resume reads back. Dataflow fragments, never a
        # driver-side set, so 10^7+ hosts never ship through the driver.
        states["sitemap_hosts"] = state(
            "sitemap_hosts", "host string", lambda hosts: hosts
        )
    return states
