"""The crawl engine: a driver-side BFS superstep loop over DataFrames.

Each superstep processes the entire QUEUED frontier level at once —
the batch-synchronous re-expression of the reference's
"N threads polling a FIFO queue until empty"
(cmd/crawl/pipeline/process/CrawlerProcessStep.java:41-43,162-176).
Strict FIFO is preserved as a *total order*, not a data structure:
every ledger row carries a dense ``seq`` assigned in discovery order
(parents before children, per-document link order within a parent), so
"the fetch sequence" is simply ORDER BY seq — identical to the
reference's MVStore monotone queue keys (MVStoreCacheQueue.java:27-35).

Ledger storage is one append-only *level* part per superstep, so
per-superstep writes are O(level), never O(ledger) — the property that
survives a 10^10-URL frontier. A level part holds this superstep's

* PROCESSED rows — the batch just fetched (final state),
* REJECTED rows — candidates killed by depth/filters/robots (final),
* QUEUED rows — the next frontier (consumed by the next superstep,
  superseded there by their own PROCESSED row; the URL-seen anti-join
  tolerates that one transient duplicate, ``urlseen()`` resolves it
  by latest superstep).

On Iceberg these are plain appends to a table bucketed by ``seen_key``
so the URL-seen anti-join prunes partitions.

Superstep dataflow (all declarative; Catalyst/AQE plan it). ``step()``
is a short list of stage methods, each taking and returning frames:

  _split_premature  frontier -> not-yet-due PREMATURE rows (baseline
                    join + recrawl resolver) | the batch to fetch
  _schedule         per-host politeness recurrence (host-sorted
                    mapInPandas) + the metadata/HEAD band
  _fetch_parse      judge ∘ parse ∘ fetcher.batches as ONE mapInPandas
                    (or judge ∘ parse after the ``pages``-table join for
                    fixtures) ∪ the rows that skip the fetch: links and
                    redirect/canonical targets leave it scoped,
                    normalized, host-keyed and judged (depth, filters,
                    robots — functions/judge.py)
  _outcomes         baseline delta, metadata + checksum first-wins
                    windows, the CASE outcome ladder; ends in the parse
                    checkpoint
  _level_outputs    PROCESSED rows, document ops, next-level candidates
                    (ONE explode of each row's judged redirect/canonical
                    target, links and post-import links) and the
                    redirect one-requeue rows
  _queue_level      the queue pipeline (seeds/orphans/sitemap locs
                    judged in one mapInPandas → driver Bloom prefilter +
                    exact anti-join vs ledger → first-wins → dense seq)
                    and ONE merged collect of its counts with the
                    level's metrics
  _end_level        folds the level into every cross-level state
                    (plans/state.py), then ONE write-behind commit per
                    level (bootstrap, superstep and orphan pass alike):
                    level part + documents part + sitemap trigger hosts
                    + checkpoint manifest (atomic swap last)

The fetch slot is a ``fetcher`` carrying ``.batches`` — a generator
over pandas batches resolving each URL in the fetch task itself (zero
shuffle; the real async-HTTP fetcher with per-fetcher retries,
MultiFetcher.java:94-138, drops into exactly this shape — see
``webgen.fetch_slot``) — or, without a fetcher, a LEFT JOIN against a
materialized ``pages`` table (FIXTURES.md §1, the MockWebsite analog)
for arbitrary test fixtures.

Scale/efficiency notes:

* Every shuffle is sized to the level, not the cluster: the driver
  knows the exact frontier/candidate counts (they're by-products of
  the metric aggregations), so ``spark.sql.shuffle.partitions`` is set
  per superstep to ``rows / ROWS_PER_TASK`` capped at the parallelism.
  Small levels run in a handful of tasks instead of paying per-task
  Python-UDF round-trip overhead across hundreds of near-empty tasks;
  big levels still fan out to every core.
* The URL-seen prefilter is one Bloom bitmap of ``bloom_bits/8`` bytes
  on the driver, maintained *incrementally*: synced once from the
  ledger when it first crosses the size threshold, then fed only each
  superstep's new rows — O(level), not O(ledger), per superstep. If it
  saturates it disables itself and the exact anti-join runs alone.
* ``seq`` assignment is one range-partition + per-partition offsets
  path (no global window); below ~150k candidates it runs with one
  partition, which skips the sampling and count jobs.
* Every cross-level state (URL-seen keys, checksum registries, host
  state, sitemap trigger hosts, redirect bad events) is a fold of
  level rows (plans/state.py): the URL-seen keys and the registries
  are lazy projections of the level's checkpoints, the host state and
  the bad events one pool-checkpointed fold each. Per-superstep joins
  never re-scan the ledger from disk; columns like ``checksum`` ride
  in the ledger rows so no extra table or write job exists for them.
  A resumed run rebuilds every state from the level parts.
* Explicit ``repartition(n, key)`` pins the politeness and first-wins
  clustering width: those shuffles carry highly-compressible slim rows
  that AQE would coalesce into one partition, serializing the Python
  stages downstream (politeness -> fetch -> parse).
* Robots matching broadcasts the per-host rule lists once; the judge
  applies them inside the fetch+parse pass (same ``RobotsMatcher`` as
  the oracle), so the queue pipeline of a step crosses into Python
  only for the Bloom probe.
* Host-keyed and baseline dimension joins carry no hints: the
  session's ``spark.sql.autoBroadcastJoinThreshold`` alone picks
  broadcast or shuffle join.
* Fetch and parse are FUSED into one ``mapInPandas`` pass: page
  bodies are parsed in the Python worker that fetched them and never
  serialize to the JVM.
* No collect() ever holds row data on the driver — only per-partition
  counts, metric dicts, and the Bloom bitmap. Run metrics live in the
  checkpoint manifest (driver json), not in Spark jobs.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.judge import (
    CANDIDATE,
    JUDGED_FIELDS,
    ROW_FIELDS,
    UrlJudge,
    rules_by_host,
)
from ..functions.links import make_parse_transformer
from ..functions.urls import seen_key
from ..operators.dedup import BloomPrefilter, assign_seq, first_wins
from ..operators.politeness import schedule_hosts
from ..operators.robots_filter import build_robots_rules, host_delays
from ..sources.docgen import make_document_udf
from .ledger import AppendTable
from .state import engine_states, key_rows

log = logging.getLogger(__name__)

_TIMING = os.environ.get("CRAWLSPARK_TIMING", "") == "1"

# target rows per shuffle task when sizing a superstep's shuffles; the
# per-row work (politeness numpy, regex link extraction, md5) makes a
# few thousand rows ≈ tens of ms per task, comfortably above task
# overhead while still fanning wide levels out to every core.
ROWS_PER_TASK = 2500
# below this level size AQE's per-stage re-planning round-trips cost
# more driver latency than they save (see _set_shuffle)
AQE_MIN_ROWS = 100_000
# up to this many candidates, seq assignment runs on one partition
# (no range-sampling or per-partition count job).
SMALL_SEQ_ROWS = 150_000


class _Tick:
    """Opt-in per-phase wall timing (CRAWLSPARK_TIMING=1). Each line
    also counts the generated classes Spark compiled since the last
    tick (its codegen cache misses), read with one py4j call."""

    def __init__(self, spark: SparkSession, superstep: int):
        self.superstep = superstep
        self.t = time.time()
        if _TIMING:
            self._compiles = spark._jvm.org.apache.spark.metrics.source \
                .CodegenMetrics.METRIC_COMPILATION_TIME()
            self.compiled = self._compiles.getCount()

    def __call__(self, phase: str) -> None:
        if _TIMING:
            now = time.time()
            compiled = self._compiles.getCount()
            print(
                f"[timing] ss={self.superstep} {phase}: {now - self.t:.2f}s"
                f" compiled={compiled - self.compiled} (abs={now:.2f})",
                flush=True,
            )
            self.t, self.compiled = now, compiled


LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seen_key", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        # seq of the row whose processing enqueued this one (-1 for
        # seeds/orphans): the enqueue-time event order, needed by the
        # redirect one-requeue rule and useful as referrer lineage
        T.StructField("parent_seq", T.LongType()),
        T.StructField("avail_ms", T.LongType()),
        T.StructField("sched_ms", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("outcome", T.StringType()),
        # raw HTTP response code for PROCESSED fetches (null for
        # QUEUED/PREMATURE rows) — the reference keeps it on its doc
        # context and reports it via UrlStatusCrawlerEventListener
        T.StructField("http_status", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("meta_ck", T.StringType()),
        # True iff this row registered its meta_ck with the dedup
        # service (metadata_dedup) — resume rebuilds the registry from
        # it; distinguishable from cached-meta_ck rows (meta-UNMODIFIED
        # rows cache but never track)
        T.StructField("meta_tracked", T.BooleanType()),
        # sitemap directives recorded at discovery (SitemapRecord ->
        # WebCrawlerEntry), consumed by the next run's recrawlable
        # resolver (GenericRecrawlableResolver sitemap support)
        T.StructField("sm_lastmod", T.StringType()),
        T.StructField("sm_changefreq", T.StringType()),
        T.StructField("trail", T.ArrayType(T.StringType())),
        # pre-normalization spellings that resolved to this url
        # (reference-trail variant marking, ProcessFinalize.java:
        # 205-219) — populated when cfg.record_url_variants; the
        # URL-seen set keys on the normalized url, so variants can
        # never be re-fetched either way (test_url_variants), this
        # column just makes the raw spellings queryable from the store
        # like the reference's ledger.
        T.StructField("raw_variants", T.ArrayType(T.StringType())),
        T.StructField("superstep", T.IntegerType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("op", T.StringType()),
    ]
)


def _recrawlable_col(cfg: CrawlConfig):
    """GenericRecrawlableResolver.java:98-244 as one Column over a
    batch joined with its baseline (base_sched / base_sm_lastmod /
    base_sm_changefreq): sitemap directives (FIRST/LAST support), then
    first-matching per-pattern minimum frequency, min_recrawl_ms as
    the catch-all, recrawlable otherwise. now = virtual clock at this
    row's availability; sitemap lastmod (a real date) maps onto the
    virtual clock via cfg.virtual_epoch_ms."""
    from ..functions.sitemaps import (
        CHANGEFREQ_CALENDAR_MONTHS,
        CHANGEFREQ_PERIOD_MS,
    )

    now = F.lit(cfg.virtual_now_ms) + F.col("avail_ms")
    sched0 = F.col("base_sched")
    lastmod_ms = F.unix_millis(F.to_timestamp(F.col("base_sm_lastmod")))
    freq = F.lower(F.col("base_sm_changefreq"))
    period = None
    for name, ms in CHANGEFREQ_PERIOD_MS.items():
        w = F.when(freq == name, F.lit(ms))
        period = w if period is None else period.when(freq == name, F.lit(ms))
    # monthly/yearly are CALENDAR periods (plusMonths/plusYears —
    # GenericRecrawlableResolver.java:224-244): project the virtual
    # clock onto real timestamps, add clamped months, compare
    epoch = F.lit(cfg.virtual_epoch_ms)
    sched_ts = F.timestamp_millis((epoch + sched0).cast("long"))
    now_ts = F.timestamp_millis((epoch + now).cast("long"))
    cal_due = None
    for name, months in CHANGEFREQ_CALENDAR_MONTHS.items():
        due = F.timestamp_add("MONTH", F.lit(months), sched_ts) <= now_ts
        w = F.when(freq == name, due)
        cal_due = w if cal_due is None else cal_due.when(freq == name, due)
    sm_recrawl = (
        F.when(
            F.col("base_sm_lastmod").isNotNull(),
            lastmod_ms > F.lit(cfg.virtual_epoch_ms) + sched0,
        )
        .when(freq == "always", F.lit(True))
        .when(freq == "never", F.lit(False))
        .when(cal_due.isNotNull(), cal_due)
        .when(period.isNotNull(), sched0 + period <= now)
        .otherwise(F.lit(True))
    )
    has_sm = (
        F.col("base_sm_lastmod").isNotNull()
        | F.col("base_sm_changefreq").isNotNull()
    )
    freq_ms = None
    for pat, v in cfg.recrawl_min_frequencies:
        cond = F.col("url").rlike(pat)
        freq_ms = (
            F.when(cond, F.lit(int(v)))
            if freq_ms is None
            else freq_ms.when(cond, F.lit(int(v)))
        )
    if cfg.min_recrawl_ms is not None:
        catch = F.lit(int(cfg.min_recrawl_ms))
        freq_ms = catch if freq_ms is None else freq_ms.otherwise(catch)
    if freq_ms is None:
        freq_ms = F.lit(None).cast("long")

    out = F.when(sched0.isNull(), F.lit(True))
    if cfg.recrawl_sitemap_check and cfg.recrawl_sitemap_support == "first":
        out = out.when(has_sm, sm_recrawl)
    out = out.when(freq_ms.isNotNull(), sched0 + freq_ms <= now)
    if cfg.recrawl_sitemap_check and cfg.recrawl_sitemap_support == "last":
        out = out.when(has_sm, sm_recrawl)
    return out.otherwise(F.lit(True))


def _target_col(cfg: CrawlConfig):
    """Rows whose redirect or canonical target is a next-level
    candidate: a redirect under the trail limit, or a non-canonical
    page whose canonical is not already in its trail."""
    return (
        (F.col("outcome") == "REDIRECT")
        & (F.size("trail") < cfg.max_redirect_trail)
        & F.col("redirect_to").isNotNull()
    ) | (
        (F.col("outcome") == "NONCANONICAL")
        & ~F.array_contains(F.col("trail"), F.col("canonical"))
    )


def _skip_fetch_rows(src: DataFrame, cols: list, **given) -> DataFrame:
    """Rows that skip fetch+parse (HEAD-skipped, PREMATURE) in the
    parse pass's shape: ``cols`` plus every fetch/parse output column,
    taken from ``given`` (name -> Column) or else null / False."""
    out = {
        "http_status": F.lit(None).cast("int"),
        "redirect_to": F.lit(None).cast("string"),
        "canonical": F.lit(None).cast("string"),
        "noindex": F.lit(False),
        "nofollow": F.lit(False),
        "checksum": F.lit(None).cast("string"),
        "links": F.lit(None).cast(JUDGED_FIELDS["links"].dataType),
        "doc_filtered": F.lit(False),
        "post_links": F.lit(None).cast(JUDGED_FIELDS["post_links"].dataType),
        "target": F.lit(None).cast(CANDIDATE),
        "links_all_n": F.lit(None).cast("int"),
        "premature": F.lit(False),
        "head_unmod": F.lit(False),
        "meta_ck": F.lit(None).cast("string"),
        "meta_filtered": F.lit(False),
    }
    out.update(given)
    return src.select(*cols, *[c.alias(name) for name, c in out.items()])


def _ledger_rows(df: DataFrame, **given) -> DataFrame:
    """``df`` projected onto LEDGER_SCHEMA's columns, each taken from
    ``given`` (name -> Column) or else from ``df``."""
    return df.select(
        *[given[f.name].alias(f.name) if f.name in given else f.name
          for f in LEDGER_SCHEMA.fields]
    )


def _delete_ops(rows: DataFrame) -> DataFrame:
    """Delete-op document rows (DOCS_SCHEMA) for ``rows`` carrying
    (url, seq, depth): spoiled deletes and orphan DELETE."""
    return rows.select(
        F.col("url").alias("image_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
        F.lit(None).cast("string").alias("checksum"),
        F.col("seq").cast("long").alias("seq"),
        F.col("depth").cast("int").alias("depth"),
        F.lit("delete").alias("op"),
    )


@dataclass
class StepStats:
    superstep: int
    fetched: int = 0
    committed: int = 0
    queued_new: int = 0
    metrics: dict | None = None


class _Queued(NamedTuple):
    """The queue pipeline's result: the level's new ledger rows (an
    eager localCheckpoint with LEDGER_SCHEMA's columns), their lazy
    (status, outcome) -> count/min_depth aggregation, and the hosts
    whose sitemap this level resolved (written by the level's commit)
    with their metrics."""

    rows: DataFrame
    counts: DataFrame | None
    sitemap_hosts: DataFrame | None
    sitemap_stats: dict


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every currently-persisted RDD — the hook release() needs
    because localCheckpoint storage is only reachable through the RDD
    API, not DataFrame.unpersist()."""
    out = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    while it.hasNext():
        out.add(int(it.next()))
    return out


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: CrawlConfig,
        pages_df: DataFrame | None,
        robots_df: DataFrame,
        baseline_df: DataFrame | None = None,
        fetcher: Callable | None = None,
        sitemaps_df: DataFrame | None = None,
        headers_df: DataFrame | None = None,
    ):
        """``baseline_df``: previous run's ledger delta input
        (url, checksum, depth, seq) — enables NEW/MODIFIED/UNMODIFIED
        outcomes, the orphan pass, and spoiled deletes (the ledger_a/
        ledger_b generation flip of CrawlerEntryLedger.java:619-658).
        Build it with ``load_baseline(spark, prev_workdir)``.

        ``fetcher``: optional fetch slot carrying ``.batches``, a
        generator over pandas batches with ``url`` that adds
        http_status/html/redirect_to (``webgen.fetch_slot`` builds
        one). When given, fetching runs inside the batch's own tasks
        (the real-HTTP shape); when None, ``pages_df`` is joined
        instead."""
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.baseline = baseline_df.cache() if baseline_df is not None else None
        self._orphans_done = baseline_df is None
        os.makedirs(workdir, exist_ok=True)
        if fetcher is not None and not callable(
            getattr(fetcher, "batches", None)
        ):
            raise ValueError(
                "fetcher must carry .batches, the generator form of the "
                "fetch slot (see webgen.fetch_slot)"
            )
        self.fetcher = fetcher
        if fetcher is None:
            if pages_df is None:
                raise ValueError("need pages_df or fetcher")
            # cache the fixture table so each superstep's fetch join
            # reuses the in-memory relation instead of re-scanning.
            # link_header / x_robots response headers ride along when
            # the table has them (consumed inside the parse pass).
            hdr_cols = [
                c
                for c in ("link_header", "x_robots")
                if c in pages_df.columns
            ]
            self.pages = pages_df.select(
                F.col("url"),
                F.col("status").alias("http_status"),
                "html",
                "redirect_to",
                *hdr_cols,
            ).cache()
        else:
            self.pages = None
        # metadata checksum band (MetadataChecksumStage/-DedupStage +
        # the HEAD directive): a headers-only projection of the fetch
        # table — no html column, so the parquet scan prunes the body
        # (the dataflow equivalent of an HTTP HEAD)
        self.headers = None
        # HEAD mode: a meta-UNMODIFIED or meta-filtered row skips the
        # body fetch (see _schedule)
        self._head_mode = False
        if cfg.metadata_checksummer is not None or cfg.metadata_filters:
            self._head_mode = bool(cfg.head_before_get)
            if headers_df is not None:
                # headers-only dim supplied directly — e.g. the
                # real-socket HEAD form (sources/httpfetch
                # .fetch_headers_df); expected columns
                # (url, h_status, last_modified, etag)
                hdr = headers_df.withColumnRenamed("h_status", "status")
            elif pages_df is None:
                raise ValueError(
                    "metadata_checksummer/metadata_filters need "
                    "response headers: pass pages_df or a headers_df "
                    "(e.g. httpfetch.fetch_headers_df over HEAD)"
                )
            else:
                hdr = pages_df
            for c in ("last_modified", "etag"):
                if c not in hdr.columns:
                    hdr = hdr.withColumn(c, F.lit(None).cast("string"))
            self.headers = hdr.select(
                "url",
                F.col("status").alias("h_status"),
                "last_modified",
                "etag",
            ).cache()
        self.rules = build_robots_rules(robots_df, cfg.user_agent).cache()
        robots = None
        if cfg.honor_robots:
            rows = self.rules.select("host", "pattern", "allow").collect()
            robots = spark.sparkContext.broadcast(rules_by_host(rows))
        # cached after the collect has loaded the rules cache, so the
        # delay dim carries the rules' measured size and the politeness
        # join plans as a broadcast under the session threshold
        self.delays = host_delays(self.rules).cache()
        self.levels = AppendTable(
            spark, os.path.join(workdir, "ledger_levels"), schema=LEDGER_SCHEMA
        )
        # durable sitemap resolved-state (trigger hosts), one tiny part
        # per resolving level, written by the level's commit
        self.sitemap_hosts = AppendTable(
            spark, os.path.join(workdir, "sitemap_hosts"), schema="host string"
        )
        self.documents = AppendTable(
            spark, os.path.join(workdir, "documents"), schema=DOCS_SCHEMA
        )
        self.superstep = 0
        self.max_seq = 0
        self.committed_total = 0
        self.queued_remaining = 0
        # highest politeness-clock value scheduled so far (drives the
        # max_crawl_duration_ms boundary stop; PREMATURE rows excluded
        # — they carry the previous run's fetch time, not this clock's)
        self._max_sched_seen = 0
        self._frontier_part: str | None = None
        self.bloom = BloomPrefilter(cfg.bloom_bits)
        self._bloom_synced = False
        # links-per-fetched-doc ratio from the previous superstep; only
        # shapes partition counts, never results
        self._branch_est = 10.0
        # min depth of the QUEUED frontier (None: unknown, e.g. resumed
        # from a manifest that predates it) — sizes a leaf level's
        # queue pipeline
        self._frontier_min_depth: int | None = None
        # deferred pool work from _end_level: the bitmap fold overlaps
        # the level's commit and lands at its first consumer
        self._bloom_fut = None
        # (host, [path,] xml) dim for SitemapResolution; hosts whose
        # sitemap has been resolved (once-per-host-ever,
        # SitemapResolutionStage.java:94-110 compute-if-absent)
        self.sitemaps = (
            sitemaps_df.cache() if sitemaps_df is not None else None
        )
        # stay_on_sitemap: the dim lists exactly the hosts whose sitemap
        # is present (GenericUrlScopeResolver.java:121-127)
        sm_hosts = ()
        if cfg.stay_on_sitemap and cfg.use_sitemaps and self.sitemaps is not None:
            sm_hosts = [r[0] for r in self.sitemaps.select("host").distinct().collect()]
        # parse normalizes canonical and post-import links through the
        # judge's normalizer
        self._judge = UrlJudge(cfg, robots, sm_hosts)
        self._parse = make_parse_transformer(
            cfg.max_depth,
            cfg.document_filters,
            post_import=cfg.post_import_links,
            normalizer=self._judge.normalize,
        )
        # write-behind committer: one ordered background thread owns
        # durability (level/documents/sitemap hosts/manifest); the main
        # thread owns compute and hands the next superstep its inputs
        # in memory (localCheckpoints). FIFO single worker => manifests
        # land in superstep order.
        from concurrent.futures import ThreadPoolExecutor

        self._committer = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="crawlspark-commit"
        )
        self._ckpt_pool = ThreadPoolExecutor(
            max_workers=3, thread_name_prefix="crawlspark-memstate"
        )
        self._pending = []
        self._frontier_mem: DataFrame | None = None
        self._states = engine_states(
            spark,
            self._ckpt_pool,
            cfg,
            sitemaps=cfg.use_sitemaps and self.sitemaps is not None,
        )
        # every other cross-superstep persisted frame (queue and
        # sitemap-trigger checkpoints, orphan frames) registers here
        # so release() can unpersist the lot
        self._pinned: list[DataFrame] = []
        # persistent-RDD watermark: DataFrame.unpersist() is a NO-OP
        # for localCheckpoint storage (it only uncaches
        # InMemoryRelations), so release() additionally sweeps every
        # persistent RDD created after this engine was built by its
        # id. Frames persisted BEFORE the engine are never touched.
        self._preexisting_rdd_ids = _persistent_rdd_ids(spark)
        self._metric_rows: list[tuple[str, str, int]] = []
        self._parallelism = spark.sparkContext.defaultParallelism

    def _n_part(self, rows: int) -> int:
        # cap at 4x the core count, not 1x: the write/UDF-heavy stages
        # (image synthesis) otherwise run as one wave of core-count fat
        # tasks that cannot pack around concurrent jobs — a straggling
        # wave leaves cores idle for its whole tail. 4x keeps tasks
        # ~2500 rows (tens of ms for slim stages, ~2s for image tasks)
        # while letting the scheduler interleave the write-behind
        # commits with the next superstep's jobs.
        return max(1, min(4 * self._parallelism, rows // ROWS_PER_TASK + 1))

    def _set_shuffle(self, rows: int) -> None:
        """Size upcoming shuffles to the data, not the cluster.

        AQE is toggled with the level size: its per-stage re-planning
        costs one driver round-trip per shuffle stage, which on a
        small level (bootstrap, redirect-requeue tails) is pure
        latency — every shuffle here is already explicitly sized, and
        skew/coalesce only matter at data volumes. Big levels keep AQE
        for its skew-join splitting. run() restores the session
        default (true) on exit so the setting never leaks."""
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self._n_part(rows))
        )
        self.spark.conf.set(
            "spark.sql.adaptive.enabled",
            "true" if rows > AQE_MIN_ROWS else "false",
        )

    # -- cross-level state ---------------------------------------------------
    def _add_level(
        self,
        processed: DataFrame | None,
        level: DataFrame,
        sitemap_hosts: DataFrame | None,
    ) -> None:
        """Add one level to every cross-level state. Live (_end_level)
        the frames are the level's checkpointed rows: its PROCESSED
        rows (None when it fetched nothing), all its ledger rows and
        its sitemap trigger hosts. On resume (resume()) they are one
        read of the committed level parts and one of the sidecar
        parts."""
        frames = {
            "processed": processed,
            "level": level,
            "sitemap_hosts": sitemap_hosts,
        }
        for st in self._states.values():
            if frames[st.source] is not None:
                st.add(frames[st.source])

    # The frontier is handed over in memory by the previous level
    # (_end_level); the parquet read only serves a resumed run's first
    # superstep.
    def _frontier_df(self) -> DataFrame:
        if self._frontier_mem is not None:
            return self._frontier_mem
        return self.levels.read_part(self._frontier_part).filter(
            F.col("status") == "QUEUED"
        )

    def _resolve_bloom(self) -> None:
        """Block on the deferred bitmap fold (submitted by _end_level)
        before the bitmap is consulted again."""
        fut = self._bloom_fut
        if fut is not None:
            self._bloom_fut = None
            fut.result()

    # -- checkpoint manifest (per-run lineage) -----------------------------
    @property
    def _ckpt(self) -> str:
        return os.path.join(self.workdir, "checkpoint.json")

    def _write_ckpt(self, state: dict) -> None:
        tmp = self._ckpt + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._ckpt)

    # -- write-behind committer --------------------------------------------
    def _raise_failed(self) -> None:
        done = [f for f in self._pending if f.done()]
        for f in done:
            f.result()  # surfaces committer exceptions on the driver
            self._pending.remove(f)

    def flush(self) -> None:
        """Block until every submitted durability commit has landed —
        and until the deferred pool folds have too, so no engine job
        outlives flush() into a caller's teardown (session stop with a
        fold mid-checkpoint logs spurious 'Block does not exist'
        storms and can fail a pool task)."""
        self._resolve_bloom()
        for st in self._states.values():
            st.land()
        for f in list(self._pending):
            f.result()
        self._pending.clear()

    def release(self) -> int:
        """Unpersist every frame this engine pinned — the cross-level
        states, the queue and trigger checkpoints, the in-memory
        frontier — plus the textops operator cache registry.
        Returns how many frames were released. For long-lived
        sessions / CLI teardown; the engine must not step() after.
        All released frames are performance pins, not data: the
        durable state lives in the workdir parquet."""
        from ..operators.textops import release_caches

        self._resolve_bloom()
        n = release_caches()
        frames = list(self._pinned)
        for st in self._states.values():
            frames += st.release()
        for dim in (
            self.baseline, self.pages, self.headers, self.rules,
            self.delays, self.sitemaps, self._frontier_mem,
        ):
            if dim is not None:
                frames.append(dim)
        failed = 0
        for df in frames:
            try:
                df.unpersist()
                n += 1
            except Exception:
                failed += 1
        # sweep localCheckpoint storage (DataFrame.unpersist cannot
        # release it): every persistent RDD newer than the engine is
        # engine-created checkpoint state. SparkContext.unpersistRDD
        # frees the same blocks as RDD.unpersist without its
        # per-RDD "was locally checkpointed" WARN.
        sc = self.spark.sparkContext._jsc.sc()
        rids = _persistent_rdd_ids(self.spark) - self._preexisting_rdd_ids
        for rid in rids:
            try:
                sc.unpersistRDD(rid, False)
                n += 1
            except Exception:
                failed += 1
        if failed:
            log.warning(
                "release(): %d of %d frames and checkpoint RDDs failed "
                "to unpersist", failed, len(frames) + len(rids),
            )
        self._pinned = []
        self._frontier_mem = None
        return n

    @classmethod
    def resume(cls, *args, **kwargs) -> "CrawlEngine":
        """Rebuild engine state from the last committed checkpoint.
        Takes the constructor's arguments, forwarded unchanged.

        Replays identically: level parts are immutable, the manifest is
        swapped atomically after all writes, and every downstream
        computation is a pure function of (level parts, config) — the
        analog of the reference's requeue-on-resume
        (CrawlerEntryLedger.java:206-241,487-511). The Bloom bitmap is
        not persisted; it is re-synced lazily from the ledger.
        """
        eng = cls(*args, **kwargs)
        with open(eng._ckpt) as f:
            state = json.load(f)
        eng.superstep = state["superstep"]
        eng.max_seq = state["max_seq"]
        eng.committed_total = state["committed_total"]
        eng.queued_remaining = state["queued_remaining"]
        eng._orphans_done = state.get("orphans_done", eng.baseline is None)
        eng._frontier_part = state.get("frontier_part")
        eng._branch_est = state.get("branch_est", 10.0)
        eng._frontier_min_depth = state.get("frontier_min_depth")
        eng._max_sched_seen = state.get("max_sched_seen", 0)
        eng._metric_rows = [tuple(r) for r in state.get("metrics", [])]
        # drop any partial writes from a crashed superstep
        part = (
            f"{state['superstep'] - 1:06d}"
            if state["superstep"] > 0
            else "0-bootstrap"
        )
        eng.documents.truncate_after(part)
        eng.levels.truncate_after(part)
        eng.sitemap_hosts.truncate_after(part)
        # every cross-level state is a fold of the committed parts:
        # one checkpointed read of each rebuilds them all, through the
        # same add as the live path (a manifest's retired
        # host_state_snapshot key is ignored)
        levels = eng.levels.read().localCheckpoint(eager=True)
        hosts = None
        if eng.sitemap_hosts.parts():
            hosts = eng.sitemap_hosts.read().localCheckpoint(eager=True)
        eng._add_level(levels, levels, hosts)
        return eng

    # -- bootstrap ---------------------------------------------------------
    def bootstrap(self, seed_urls: list[str]) -> None:
        """Seed enqueue (QueueBootstrapper analog; skipped on resume —
        QueueBootstrapper.java:74-79)."""
        tick = _Tick(self.spark, self.superstep)
        rows = [(u, 0, 0, [], -1, i) for i, u in enumerate(seed_urls)]
        cand = self.spark.createDataFrame(
            rows,
            schema="raw_url string, depth int, avail_ms long, "
            "trail array<string>, parent_seq long, out_pos int",
        )
        q = self._queue_pipeline(cand, len(seed_urls))
        stats = self._queue_stats(q, q.counts.collect(), len(seed_urls))
        tick("queue")
        # "0-bootstrap" sorts before "000000" so resume truncation
        # (drop parts > last completed superstep) never removes it.
        self._end_level(q, "0-bootstrap", stats)
        tick("end_level")

    # -- queue pipeline (§2.2 stage order) ---------------------------------
    def _queue_pipeline(
        self,
        cand: DataFrame,
        n_cand: int,
        extra_evaluated: DataFrame | None = None,
    ) -> _Queued:
        """Candidates -> new ledger rows (QUEUED or REJECTED_*) and their
        lazy per-(status, outcome) counts. Stage order fixed at
        WebDocPipelines.java:58-65. ``n_cand`` sizes the shuffles; it is
        precomputed (or estimated) by the caller, so the candidate
        lineage never runs just for a count. The caller collects
        ``counts`` — alone, or folded into its own single action — and
        passes the rows to ``_queue_stats``."""
        cfg = self.cfg
        self._set_shuffle(n_cand)
        ledger = self._states["keys"].read()
        caches: list[DataFrame] = []
        c = self._evaluate_candidates(cand, ledger, n_cand, caches)

        # SitemapResolution (web/.../queue/stages/SitemapResolutionStage
        # .java:63-231): the first QUEUED candidate of a never-seen host
        # triggers a once-per-host sitemap parse; the sitemap's URLs are
        # enqueued BEFORE the trigger (the stage precedes
        # QueueReferenceStage), at depth 0, through the same evaluation.
        # Non-lenient parsing (SitemapParser.java:103) keeps locs on the
        # same host, bounding resolution to one round per superstep.
        sm_hosts, sm_stats = None, {}
        if cfg.use_sitemaps and self.sitemaps is not None:
            c = c.cache()
            caches.append(c)
            resolved = self._sitemap_candidates(c, caches)
            if resolved is not None:
                sm_hosts, locs, sm_stats = resolved
                c = c.unionByName(
                    self._evaluate_candidates(locs, ledger, n_cand, caches)
                )

        # requeued redirect targets enter pre-evaluated (requeueEntry
        # bypasses the queue pipeline) but share the total order so a
        # later duplicate requeue of the same target first-wins away
        if extra_evaluated is not None:
            c = c.unionByName(extra_evaluated)

        # variant marking must see the PRE-dedup frame: duplicate
        # same-superstep discoveries (the first_wins 'losers') carry
        # raw spellings the winner row must absorb
        # (ProcessFinalize.java:205-219 marks the trail over ALL
        # reference variations, not just the surviving row's own)
        pre_dedup = None
        if cfg.record_url_variants:
            pre_dedup = c.cache()
            caches.append(pre_dedup)
            c = pre_dedup

        # first-discovery-wins across candidates ∪ sitemap locs: the
        # total order (parent_seq, out_pos, sub) places each host's
        # sitemap URLs directly before their trigger
        c = first_wins(
            c,
            "url",
            ["parent_seq", "out_pos", "sub"],
            n_part=self._n_part(n_cand),
        )

        n_seq = 1 if n_cand <= SMALL_SEQ_ROWS else self._n_part(n_cand)
        if n_seq > 1:
            # second cache before assign_seq: multi-partition range
            # partitioning samples its input (an extra pass), which
            # must not re-run the join lineage
            c = c.cache()
            caches.append(c)
        seq_df = assign_seq(
            c, ["parent_seq", "out_pos", "sub"], self.max_seq, n_part=n_seq
        )
        # released with the other caches; held here because the variants
        # join below replaces seq_df with a frame that lacks the handle
        caches.append(seq_df._assign_seq_cache)
        if cfg.record_url_variants:
            # reference-trail variant marking (ProcessFinalize.java:
            # 205-219): raw spellings that normalized to this url —
            # aggregated over the PRE-first_wins frame so the winner
            # row absorbs every variant, losers included
            variants = (
                pre_dedup.filter(
                    F.col("raw_url").isNotNull()
                    & (F.col("raw_url") != F.col("url"))
                )
                .groupBy("url")
                .agg(
                    F.array_sort(F.collect_set("raw_url")).alias(
                        "raw_variants"
                    )
                )
            )
            seq_df = seq_df.drop("raw_url").join(variants, "url", "left")
            rv_col = F.col("raw_variants")
        else:
            rv_col = F.lit(None).cast("array<string>")
        new_rows = _ledger_rows(
            seq_df,
            parent_seq=F.col("parent_seq").cast("long"),
            sched_ms=F.lit(None).cast("long"),
            http_status=F.lit(None).cast("int"),
            checksum=F.lit(None).cast("string"),
            meta_ck=F.lit(None).cast("string"),
            meta_tracked=F.lit(False),
            raw_variants=rv_col,
            superstep=F.lit(self.superstep).cast("int"),
        )
        # Materialize as a flat LogicalRDD, not .cache(): a cached
        # frame short-circuits re-EXECUTION but every downstream
        # action (the merged metrics collect, the key fragment, the
        # level parquet write, the frontier filter, the bad-event
        # projection) still re-ANALYZES the full queue mega-plan —
        # candidate explode, URL-seen anti-join, first-wins window, seq
        # assignment — a ~1s driver cost per action that is
        # pure per-superstep floor (measured on the scaling site; the
        # same reason the parse checkpoint exists). One compile + one
        # execution here; every consumer then optimizes a one-node plan.
        new_rows = new_rows.localCheckpoint(eager=True)

        # every cache above fed only this checkpoint
        for df in caches:
            df.unpersist()
        counts = new_rows.groupBy("status", "outcome").agg(
            F.count("*").alias("count"), F.min("depth").alias("min_depth")
        )
        return _Queued(new_rows, counts, sm_hosts, sm_stats)

    def _evaluate_candidates(
        self,
        cand: DataFrame,
        ledger: DataFrame,
        n_cand: int,
        caches: list,
    ) -> DataFrame:
        """Judged candidates -> URL-seen anti-join -> status. Links and
        redirect/canonical targets leave the fetch+parse pass judged;
        the candidates with no parent page (seeds, orphans, sitemap
        locs: ``raw_url`` but no ``url`` yet) are judged here, in one
        mapInPandas. Ordering (first-wins, seq) is the caller's job —
        all checks here are order-independent, which is what lets
        sitemap locs evaluate separately and merge by order key
        afterwards."""
        cfg = self.cfg
        if "url" not in cand.columns:
            cand = cand.mapInPandas(
                self._judge.rows, T.StructType(cand.schema.fields + ROW_FIELDS)
            )
        if "sub" not in cand.columns:
            cand = cand.withColumn("sub", F.lit(0))
        for c_ in ("sm_lastmod", "sm_changefreq"):
            if c_ not in cand.columns:
                cand = cand.withColumn(c_, F.lit(None).cast("string"))
        c = cand.filter(F.col("url").isNotNull()).withColumn(
            "seen_key", seen_key(F.col("url"))
        )

        # URL-seen: Bloom prefilter (probable) + exact anti-join (exact).
        # The bitmap is synced from the full ledger once, at the
        # threshold crossing; afterwards step() feeds it only new rows.
        ledger_keys = ledger.select("url", "seen_key")
        self._resolve_bloom()
        if (
            not self._bloom_synced
            and self.max_seq >= cfg.bloom_prefilter_min_ledger
        ):
            tick = _Tick(self.spark, self.superstep)
            self.bloom.add_df(ledger_keys)
            self._bloom_synced = True
            tick("bloom_sync")
        if self._bloom_synced:
            # fresh ∪ maybe read the candidates twice
            c = c.cache()
            caches.append(c)
            maybe, fresh = self.bloom.filter_candidates(c)
            # pin BOTH join sides' shuffle width explicitly (repartition-
            # by-num is AQE-coalesce-exempt and co-partitions the join,
            # so no extra exchange): the level's slim keys compress far
            # below the advisory partition size and AQE otherwise folds
            # the anti-join — and every stage until the next explicit
            # repartition — into one or two tasks. The ledger side is
            # large here (that's why the Bloom is on): a shuffle-hash
            # join keeps the build distributed instead of collecting
            # ~all ledger keys to the driver for a broadcast every
            # superstep.
            n_aj = self._n_part(max(n_cand, self.max_seq))
            maybe_new = maybe.repartition(n_aj, F.col("url")).join(
                ledger_keys.select("url")
                .repartition(n_aj, F.col("url"))
                .hint("shuffle_hash"),
                "url",
                "left_anti",
            )
            c = fresh.unionByName(maybe_new)
        else:
            # small-ledger regime: no hint and no pinned widths, so the
            # session threshold picks the join. It does NOT pick a
            # broadcast: each key fragment is a localCheckpoint that
            # keeps the size estimate of the plan it came from, so the
            # union estimates far above the threshold and this plans as
            # a sort-merge join with a candidate-side exchange at every
            # level (ROADMAP item 7).
            c = c.join(ledger_keys.select("url"), "url", "left_anti")

        return c.withColumn(
            "status",
            F.when(F.col("outcome").isNull(), "QUEUED").otherwise("REJECTED"),
        ).select(
            "url",
            "seen_key",
            "host",
            "depth",
            "avail_ms",
            "trail",
            "parent_seq",
            "out_pos",
            "sub",
            "sm_lastmod",
            "sm_changefreq",
            "status",
            "outcome",
            *(["raw_url"] if cfg.record_url_variants else []),
        )

    def _sitemap_candidates(
        self, evaluated: DataFrame, caches: list
    ) -> tuple[DataFrame, DataFrame, dict] | None:
        """Sitemap locs for hosts first QUEUED this level, as
        (trigger hosts, loc candidates, sitemap metrics); None when no
        host is new.

        Trigger per new host = its min-(parent_seq, out_pos) surviving
        candidate (the queue-pipeline stages up to SitemapResolution
        have passed). Each loc becomes a candidate at depth 0 carrying
        the trigger's order key with a negative ``sub`` so the whole
        sitemap sorts directly before the trigger, in document order —
        byte-for-byte the recursive enqueue order of the reference
        (GenericSitemapResolver.java:84-165 urlConsumer -> queue
        pipeline) and of the oracle simulator.
        """
        from ..functions.sitemaps import resolve_sitemap_tree_udf

        triggers = (
            evaluated.filter(F.col("status") == "QUEUED")
            .groupBy("host")
            .agg(
                F.min(
                    F.struct("parent_seq", "out_pos", "avail_ms")
                ).alias("t"),
                # representative URL: anchors the sitemap base's
                # scheme+netloc so non-default ports survive the
                # non-lenient loc scope (deterministic min; one netloc
                # per host in practice)
                F.min("url").alias("rep_url"),
            )
        )
        # resolved hosts: the sitemap_hosts state (see plans/state.py),
        # which _end_level extends with this level's triggers
        triggers = triggers.join(
            self._states["sitemap_hosts"].read(), "host", "left_anti"
        )
        trg = triggers.localCheckpoint(eager=True)
        self._pinned.append(trg)
        n_new = trg.count()
        if n_new == 0:
            return None
        hosts = trg.select("host")
        triggers = trg
        sm = self.sitemaps
        if "path" not in sm.columns:
            sm = sm.withColumn("path", F.lit("/sitemap.xml"))
        # the host's full sitemap set rides into ONE udf call which
        # walks the <sitemapindex> tree from /sitemap.xml (child
        # "fetches" are lookups into the collected dim rows) — DFS
        # document order, matching GenericSitemapResolver.java:84-165
        smg = sm.groupBy("host").agg(
            F.collect_list("path").alias("paths"),
            F.collect_list("xml").alias("xmls"),
        )
        locs = (
            triggers.join(smg, "host", "inner")
            .withColumn(
                "recs",
                resolve_sitemap_tree_udf(
                    F.col("host"),
                    F.col("paths"),
                    F.col("xmls"),
                    F.col("rep_url"),
                ),
            )
            .select(
                "host",
                "t",
                F.size("recs").alias("n_locs"),
                F.posexplode("recs").alias("pos", "r"),
            )
            .select(
                F.col("r.url").alias("raw_url"),
                F.lit(0).alias("depth"),
                F.col("t.avail_ms").alias("avail_ms"),
                F.array().cast("array<string>").alias("trail"),
                F.col("t.parent_seq").alias("parent_seq"),
                F.col("t.out_pos").alias("out_pos"),
                # always negative (sorts before the sub=0 trigger)
                # regardless of sitemap size — no fixed -1e6 base to
                # overflow past the trigger on million-entry sitemaps
                (F.col("pos") - F.col("n_locs")).cast("int").alias("sub"),
                F.col("r.lastmod").alias("sm_lastmod"),
                F.col("r.changefreq").alias("sm_changefreq"),
            )
            .cache()
        )
        caches.append(locs)
        stats = {
            "SITEMAP_HOSTS_RESOLVED": n_new,
            "SITEMAP_URLS": locs.count(),
        }
        return hosts, locs, stats

    def _queue_stats(self, q: _Queued, count_rows: list, n_cand: int) -> dict:
        """Fold the queue pipeline's collected counts into queue metrics
        and advance the seq/ledger counters (exactly once per pipeline).
        ``n_cand`` is the exact number of candidates fed in; the
        sitemap locs the pipeline added are counted here. ``count_rows``
        also carry each group's ``min_depth``: the QUEUED rows become
        the next frontier."""
        by_status = {(r["status"], r["outcome"]): r["count"] for r in count_rows}
        self._frontier_min_depth = next(
            (r["min_depth"] for r in count_rows if r["status"] == "QUEUED"),
            None,
        )
        n_cand += q.sitemap_stats.get("SITEMAP_URLS", 0)
        n_new = sum(by_status.values())
        stats = {
            "DOCUMENT_QUEUED": by_status.get(("QUEUED", None), 0),
            "REJECTED_TOO_DEEP": by_status.get(("REJECTED", "TOO_DEEP"), 0),
            "REJECTED_FILTER": by_status.get(("REJECTED", "FILTERED"), 0),
            "REJECTED_ROBOTS_TXT": by_status.get(("REJECTED", "ROBOTS_TXT"), 0),
            "CANDIDATES": n_cand,
            "DUPLICATE_OR_BAD_SKIPPED": n_cand - n_new,
        }
        stats.update(q.sitemap_stats)
        self.max_seq += n_new
        return stats

    # -- one superstep ------------------------------------------------------
    def step(self) -> StepStats | None:
        """Process the whole QUEUED level; None when the crawl is done.

        A superstep is six stages, each a method taking and returning
        frames (WebDocPipelines.java:58-124 builds a level from the same
        ordered list of named stages): premature split, politeness plus
        the HEAD band, fetch+parse, the outcome ladder (ending in the
        parse checkpoint), the level's outputs and next-level
        candidates, and the queue pipeline with the level's one merged
        collect. ``_end_level`` then hands the next level over."""
        cfg = self.cfg
        if self.queued_remaining <= 0:
            return None
        if cfg.max_docs is not None and self.committed_total >= cfg.max_docs:
            return None
        # maxCrawlDuration on the virtual politeness clock (ActivityChecker
        # analog; superstep-boundary check like max_docs — a documented
        # deviation from the reference's wall-clock mid-crawl stop)
        if (
            cfg.max_crawl_duration_ms is not None
            and self._max_sched_seen >= cfg.max_crawl_duration_ms
        ):
            return None
        tick = _Tick(self.spark, self.superstep)
        self._raise_failed()
        # land the previous level's deferred pool folds BEFORE any
        # session-conf mutation: the host-state and bad-event folds
        # shuffle (their aggregations read spark.sql.* at execution),
        # so letting _set_shuffle flip shuffle sizing / AQE
        # mid-execution is a race. They were submitted when the
        # previous level ended (_end_level), so they have already
        # overlapped that level's background parquet writes — the win
        # this deferral exists for.
        self._resolve_bloom()
        for st in self._states.values():
            st.land()
        self._set_shuffle(self.queued_remaining)
        # sched_ms/checksum are re-derived this superstep (QUEUED rows
        # carry nulls for both); http_status is the QUEUED placeholder
        # (always null here) — dropped so the fetch/head/premature
        # branches re-derive the real response column without a name
        # collision
        batch = self._frontier_df().drop(
            "sched_ms", "checksum", "meta_ck", "meta_tracked",
            "http_status",
        )
        batch, prem = self._split_premature(batch)
        tick("premature")
        sched, head = self._schedule(batch)
        tick("schedule")
        parsed = self._fetch_parse(sched, head, prem)
        tick("fetch_parse")
        parsed = self._outcomes(parsed)
        tick("outcomes")
        processed, docs, cand, requeue = self._level_outputs(parsed)
        tick("level_outputs")
        q, stats = self._queue_level(parsed, cand, requeue)
        tick("queue")
        st = StepStats(
            superstep=self.superstep,
            fetched=stats["DOCUMENT_FETCHED"],
            committed=stats["DOCUMENT_COMMITTED_UPSERT"],
            queued_new=stats["DOCUMENT_QUEUED"],
            metrics=stats,
        )
        self._end_level(
            q, f"{st.superstep:06d}", stats, processed=processed, docs=docs
        )
        tick("end_level")
        return st

    # -- superstep stages ---------------------------------------------------
    def _split_premature(
        self, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame | None]:
        """Stage 1. RecrawlableResolver (PREMATURE) runs before the delay
        resolver: not-yet-due URLs bypass politeness and fetch entirely
        (RecrawlableResolverStage.java:38-93). Returns the batch to
        schedule and the PREMATURE rows in the parse pass's shape (None
        without a recrawl policy)."""
        cfg = self.cfg
        if self.baseline is None or not (
            cfg.min_recrawl_ms is not None
            or cfg.recrawl_min_frequencies
            or cfg.recrawl_sitemap_check
        ):
            return batch, None

        def _bcol(name):
            return (
                F.col(name)
                if name in self.baseline.columns
                else F.lit(None).cast("string")
            )

        bsched = self.baseline.select(
            "url",
            F.col("sched_ms").alias("base_sched"),
            F.col("checksum").alias("base_ck_prem"),
            _bcol("meta_ck").alias("base_meta_prem"),
            _bcol("sm_lastmod").alias("base_sm_lastmod"),
            _bcol("sm_changefreq").alias("base_sm_changefreq"),
        )
        b2 = batch.join(bsched, "url", "left")
        is_prem = F.col("base_sched").isNotNull() & ~_recrawlable_col(cfg)
        batch = b2.filter(~is_prem).drop(*bsched.columns[1:])
        # PREMATURE keeps the baseline's fetch time and checksum in
        # its ledger row (GenericRecrawlableResolver preserves the
        # prior fetch date + cached doc) so a 3rd-run chain still
        # sees the original due-time and UNMODIFIED/MODIFIED delta.
        # Sitemap directives: this run's enqueue-time values when
        # present (fresh sitemap resolution), else the cached ones.
        prem_cols = [
            F.coalesce(F.col(c), F.col(f"base_{c}")).alias(c)
            if c in ("sm_lastmod", "sm_changefreq")
            else F.col(c)
            for c in batch.columns
        ]
        prem = _skip_fetch_rows(
            b2.filter(is_prem),
            prem_cols,
            sched_ms=F.col("base_sched"),
            checksum=F.col("base_ck_prem"),
            premature=F.lit(True),
            meta_ck=F.col("base_meta_prem"),
        )
        return batch, prem

    def _schedule(
        self, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame | None]:
        """Stage 2: the per-host politeness schedule, then the metadata
        checksum band (MetadataChecksumStage + the HEAD directive,
        WebDocPipelines.java:89-99). The band joins the headers-only
        projection (no html — the "HEAD") and computes meta_ck. In HEAD
        mode a meta-UNMODIFIED or meta-filtered row skips the body
        fetch+parse entirely (no link extraction); otherwise meta_ck
        rides through the parse as a passthrough column and the
        decision happens in the outcome ladder after noindex. Returns
        the rows to fetch and the HEAD-skipped rows in the parse pass's
        shape (None outside HEAD mode)."""
        cfg = self.cfg
        sched = schedule_hosts(
            batch,
            self.delays,
            self._states["host_state"].read(),
            cfg.default_delay_ms,
            schedules=cfg.delay_schedules,
            patterns=cfg.delay_patterns,
            scope=cfg.delay_scope,
            n_threads=cfg.delay_threads,
            # the level's one exchange before the fetch: the explicit
            # width pins the politeness clustering — AQE would
            # otherwise coalesce this slim-row shuffle into one
            # partition and serialize the whole politeness → fetch →
            # parse chain behind it
            n_part=self._n_part(self.queued_remaining),
        )
        if self.headers is None:
            return sched, None
        from ..functions.checksums import meta_checksum_col
        from ..functions.filters import filters_reject_col

        hj = sched.join(self.headers, "url", "left").withColumn(
            "meta_ck",
            (
                meta_checksum_col(
                    cfg.metadata_checksummer,
                    cfg.metadata_checksum_fields,
                )
                if cfg.metadata_checksummer is not None
                else F.lit(None).cast("string")
            ),
        )
        # MetadataFiltersStage (before the metadata checksum in stage
        # order) over the header fields + reference
        mf = (
            filters_reject_col(cfg.metadata_filters)
            if cfg.metadata_filters
            else F.lit(False)
        )
        hj = hj.withColumn(
            "meta_filtered", mf & (F.col("h_status") == 200)
        ).drop("last_modified", "etag")
        if not self._head_mode:
            return hj.drop("h_status"), None
        if self.baseline is not None:
            base_meta = self.baseline.select(
                "url", F.col("meta_ck").alias("base_meta_head")
            )
            hj = hj.join(base_meta, "url", "left")
            unmod_cond = F.col("base_meta_head").isNotNull() & (
                F.col("meta_ck") == F.col("base_meta_head")
            )
        else:
            hj = hj.withColumn("base_meta_head", F.lit(None).cast("string"))
            unmod_cond = F.lit(False)
        hj = hj.withColumn(
            "head_unmod",
            (F.col("h_status") == 200) & ~F.col("meta_filtered") & unmod_cond,
        )
        head_skip = F.col("meta_filtered") | F.col("head_unmod")
        head = _skip_fetch_rows(
            hj.filter(head_skip).drop("base_meta_head"),
            batch.columns,
            sched_ms=F.col("sched_ms"),
            http_status=F.lit(200),
            head_unmod=F.col("head_unmod"),
            meta_ck=F.col("meta_ck"),
            meta_filtered=F.col("meta_filtered"),
        )
        sched = hj.filter(~head_skip).drop(
            "base_meta_head", "h_status", "head_unmod"
        )
        return sched, head

    def _fetch_parse(
        self,
        sched: DataFrame,
        head: DataFrame | None,
        prem: DataFrame | None,
    ) -> DataFrame:
        """Stage 3: fetch, parse and judge the scheduled rows, then add
        the rows that skip the fetch (HEAD-skipped and PREMATURE,
        already in this pass's shape).

        With a fetcher, its generator form, the parse transformer and
        the judge run as ONE mapInPandas, ``judge(parse(fetch(b)))``:
        only the distilled parse fields return to the JVM, their links
        already scoped, normalized, host-keyed and judged. Without
        one, the ``pages`` table (MockWebsite analog) is joined first
        (html crosses once, then is dropped)."""
        parse, judge = self._parse, self._judge
        replaced = {"html", "http_status", "redirect_to", "link_header",
                    "x_robots", *JUDGED_FIELDS.names}
        out_schema = T.StructType(
            [f for f in sched.schema.fields if f.name not in replaced]
            + [
                T.StructField("http_status", T.IntegerType()),
                T.StructField("redirect_to", T.StringType()),
            ]
            + list(JUDGED_FIELDS.fields)
        )
        if self.fetcher is None:
            src = sched.join(self.pages, "url", "left")

            def kernel(batches):
                return judge.pages(parse(batches))
        else:
            src, fetch = sched, self.fetcher.batches

            def kernel(batches):
                return judge.pages(parse(fetch(batches)))

        parsed = src.mapInPandas(kernel, schema=out_schema)
        parsed = parsed.withColumn("premature", F.lit(False)).withColumn(
            "head_unmod", F.lit(False)
        )
        if self.headers is None:
            parsed = parsed.withColumn(
                "meta_ck", F.lit(None).cast("string")
            ).withColumn("meta_filtered", F.lit(False))
        for skipped in (head, prem):
            if skipped is not None:
                parsed = parsed.unionByName(skipped)
        return parsed

    def _outcomes(self, parsed: DataFrame) -> DataFrame:
        """Stage 4: the outcome ladder over the fetched and skipped rows
        — baseline delta, metadata and content first-wins dedup,
        spoiled strategy, then one CASE per row — materialized as the
        parse checkpoint that every later stage and the commit read."""
        cfg = self.cfg
        is200 = F.col("http_status") == 200
        noncanon = (
            is200
            & F.col("canonical").isNotNull()
            & (F.col("canonical") != F.col("url"))
        )
        noindex = F.coalesce(F.col("noindex"), F.lit(False))

        # incremental delta: previous run's checksum for this url
        # (ChecksumStageUtil.java:46-104 — no baseline => NEW, equal =>
        # UNMODIFIED, different => MODIFIED)
        committable = is200 & ~noncanon & ~noindex
        if self.baseline is not None:
            has_meta = "meta_ck" in self.baseline.columns
            parsed = parsed.join(
                self.baseline.select(
                    "url",
                    F.col("checksum").alias("base_ck"),
                    (
                        F.col("meta_ck")
                        if has_meta
                        else F.lit(None).cast("string")
                    ).alias("base_meta"),
                    F.col("outcome").alias("base_outcome"),
                ),
                "url",
                "left",
            )
        else:
            parsed = (
                parsed.withColumn("base_ck", F.lit(None).cast("string"))
                .withColumn("base_meta", F.lit(None).cast("string"))
                .withColumn("base_outcome", F.lit(None).cast("string"))
            )

        # metadata checksum/dedup stages. meta_stage_ok = "the metadata
        # stages ran for this row": before the body in HEAD mode, after
        # noindex/canonical rejection in GET mode (WebDocPipelines.java
        # stage order). MetadataFiltersStage precedes the checksum, so
        # a meta-filtered row never reaches it.
        if cfg.metadata_checksummer is not None:
            meta_stage_ok = ~F.col("meta_filtered") & (
                is200 if self._head_mode else committable
            )
        else:
            meta_stage_ok = F.lit(False)
        meta_unmod = F.col("head_unmod") | (
            meta_stage_ok
            & F.col("base_meta").isNotNull()
            & (F.col("meta_ck") == F.col("base_meta"))
        )
        parsed = parsed.withColumn("meta_unmod", meta_unmod)
        meta_eligible = (
            meta_stage_ok
            & ~F.col("meta_unmod")
            & F.col("meta_ck").isNotNull()
        )
        if cfg.metadata_dedup and cfg.metadata_checksummer is not None:
            wm = (
                Window.partitionBy("meta_ck")
                .orderBy("seq")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            # pin the window's clustering width (see dup_rank below)
            parsed = parsed.repartition(
                self._n_part(self.queued_remaining), F.col("meta_ck")
            )
            parsed = parsed.withColumn(
                "meta_rank",
                F.when(
                    meta_eligible,
                    F.sum(F.when(meta_eligible, 1).otherwise(0)).over(wm),
                ),
            ).join(self._states["meta_registry"].read(), "meta_ck", "left")
            parsed = parsed.withColumn(
                "meta_dup",
                meta_eligible
                & (
                    F.coalesce(F.col("mk_seen"), F.lit(False))
                    | (F.col("meta_rank") > 1)
                ),
            )
        else:
            parsed = parsed.withColumn("meta_dup", F.lit(False))
        parsed = parsed.withColumn(
            "meta_tracked", meta_eligible & ~F.col("meta_dup")
        )
        if self._head_mode:
            # a meta-duplicate is rejected BEFORE the GET in HEAD mode:
            # its body is never fetched, so no links may spawn (the
            # fixture join did parse it — a real two-phase fetcher
            # skips the GET; semantics are what matter here)
            parsed = parsed.withColumn(
                "links",
                F.when(F.col("meta_dup"), F.lit(None).cast(
                    JUDGED_FIELDS["links"].dataType
                )).otherwise(F.col("links")),
            )

        content_unmod = F.col("base_ck").isNotNull() & (
            F.col("base_ck") == F.col("checksum")
        )
        unmod = content_unmod | F.col("meta_unmod")

        # importer-stage FILTERED verdicts: metadata filters (position
        # depends on the fetch directive), document filters (after the
        # meta stages, before the document checksum)
        meta_filtered_here = F.col("meta_filtered") & (
            F.lit(True) if self._head_mode else committable
        )
        doc_filtered_here = (
            F.coalesce(F.col("doc_filtered"), F.lit(False)) & committable
        )

        # first-reference-wins content dedup (DedupService.java:88-99):
        # rank only rows that would register a checksum — noindex,
        # noncanonical, UNMODIFIED, meta-duplicate and filtered rows
        # never register, so they must not occupy a rank slot.
        registers = (
            committable
            & ~unmod
            & ~F.col("meta_dup")
            & ~meta_filtered_here
            & ~doc_filtered_here
        )
        w = (
            Window.partitionBy("checksum")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # pin the window's clustering width explicitly: its exchange is
        # AQE-coalescible and the level's slim rows compress far below
        # the advisory partition size, so AQE folds the whole level into
        # ONE partition — serializing the window AND everything after it
        # (outcome ladder, link explode, candidate build) until the
        # queue pipeline's own explicit repartition. A repartition-by-num
        # is exempt from coalescing and already satisfies the window's
        # clustering requirement, so this adds no extra exchange.
        parsed = parsed.repartition(
            self._n_part(self.queued_remaining), F.col("checksum")
        )
        parsed = parsed.withColumn(
            "dup_rank",
            F.when(
                registers, F.sum(F.when(registers, 1).otherwise(0)).over(w)
            ).otherwise(F.lit(None)),
        )
        parsed = parsed.join(self._states["registry"].read(), "checksum", "left")

        # spoiled strategy (GenericSpoiledReferenceStrategizer.java:69):
        # DELETE drops the committed doc now; GRACE_ONCE only when the
        # PREVIOUS run was also spoiled (ProcessFinalize.java:192)
        strat_map = dict(cfg.spoiled_strategies)
        spoiled_out = (
            F.when(F.col("http_status").isNull(), "NOT_FOUND")
            .when(F.col("http_status") == 404, "NOT_FOUND")
            .when(F.col("http_status") >= 500, "BAD_STATUS")
        )
        strat = F.lit(None).cast("string")
        for o, s in strat_map.items():
            strat = F.when(spoiled_out == o, s).otherwise(strat)
        from ..functions.checksums import GOOD_OUTCOMES

        prev_bad = F.col("base_outcome").isNotNull() & ~F.col(
            "base_outcome"
        ).isin(*GOOD_OUTCOMES)
        spoiled_del = (
            F.lit(bool(cfg.spoiled_delete))
            & F.col("base_ck").isNotNull()
            & ~F.col("premature")
            & (
                (strat == "DELETE")
                | ((strat == "GRACE_ONCE") & prev_bad)
            )
        )
        parsed = parsed.withColumn("spoiled_del", spoiled_del)

        is_redirect = F.col("http_status").isin(301, 302)
        parsed = parsed.withColumn(
            "outcome",
            F.when(F.col("premature"), "PREMATURE")
            .when(F.col("http_status").isNull(), "NOT_FOUND")
            .when(F.col("http_status") == 404, "NOT_FOUND")
            .when(F.col("http_status") >= 500, "BAD_STATUS")
            .when(is_redirect, "REDIRECT")
            # HEAD mode: the metadata stages precede the body stages
            .when(F.lit(self._head_mode) & meta_filtered_here, "FILTERED")
            .when(F.lit(self._head_mode) & F.col("meta_unmod"), "UNMODIFIED")
            .when(F.lit(self._head_mode) & F.col("meta_dup"), "DUPLICATE")
            .when(noncanon, "NONCANONICAL")
            .when(noindex, "NOINDEX")
            .when(meta_filtered_here, "FILTERED")
            .when(F.col("meta_unmod"), "UNMODIFIED")
            .when(F.col("meta_dup"), "DUPLICATE")
            # DocumentFiltersStage sits between the metadata stages and
            # the document checksum (WebDocPipelines stage order)
            .when(doc_filtered_here, "FILTERED")
            .when(content_unmod, "UNMODIFIED")
            .when(
                F.coalesce(F.col("ck_seen"), F.lit(False))
                | (F.col("dup_rank") > 1),
                "DUPLICATE",
            )
            .when(F.col("base_ck").isNotNull(), "MODIFIED")
            .otherwise("NEW"),
        )
        # rows rejected before the document checksum stage never cache
        # a fresh checksum: metadata-stage rejects and graced spoiled
        # rows keep the baseline's (the committed doc still exists);
        # deleted spoiled rows keep none. PREMATURE rows already carry
        # theirs in `checksum`.
        spoiled_graced = (
            spoiled_out.isNotNull()
            & ~F.col("premature")
            & ~F.col("spoiled_del")
        )
        parsed = parsed.withColumn(
            "checksum",
            F.when(
                F.col("meta_unmod")
                | F.col("meta_dup")
                | meta_filtered_here
                | doc_filtered_here
                | spoiled_graced,
                F.col("base_ck"),
            ).otherwise(F.col("checksum")),
        ).withColumn(
            # cache meta_ck only where its stage ran (or carried on
            # PREMATURE) — mirrors the oracle's e.meta_ck rule
            "meta_ck",
            F.when(
                meta_stage_ok | F.col("premature"), F.col("meta_ck")
            ),
        )
        # Materialize the level NOW as a flat LogicalRDD plan rather
        # than a .cache(): every downstream action this superstep (seq
        # sampling + counts, the merged metrics collect, the mem-state
        # checkpoints, the write-behind level/documents jobs) would
        # otherwise re-run Catalyst analysis+optimization over the full
        # superstep mega-plan (politeness, meta band, fetch+parse UDF,
        # two dedup windows, registry joins — hundreds
        # of expressions), a fixed multi-second driver cost PER ACTION
        # that dominates small levels and serializes the whole crawl
        # (measured: ~87 s serial floor at 6 supersteps, the scaling-
        # efficiency killer). The checkpoint runs the identical compute
        # as the first cache-filling action did, but leaves ~10 later
        # actions optimizing a one-node plan. Same pattern the frontier
        # and ledger hand-offs already use.
        return parsed.localCheckpoint(eager=True)

    def _level_outputs(
        self, parsed: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame | None]:
        """Stage 5: from the parse checkpoint, the level's PROCESSED
        ledger rows, its document ops, the next level's candidates, and
        the redirect targets requeued past the queue pipeline (None
        unless ``redirect_requeue``)."""
        cfg = self.cfg
        processed = _ledger_rows(
            parsed,
            status=F.lit("PROCESSED"),
            http_status=F.col("http_status").cast("int"),
            superstep=F.lit(self.superstep).cast("int"),
        )

        committed = parsed.filter(
            F.col("outcome").isin("NEW", "MODIFIED")
        ).select(F.col("url").alias("image_id"), "checksum", "seq", "depth")
        doc_udf = make_document_udf(cfg.image_w, cfg.image_h)
        docs = committed.withColumn("d", doc_udf(F.col("image_id"))).select(
            "image_id",
            F.col("d.bytes").alias("bytes"),
            F.col("d.w").alias("w"),
            F.col("d.h").alias("h"),
            F.col("d.fmt").alias("fmt"),
            F.col("d.caption").alias("caption"),
            F.col("d.phash").alias("phash"),
            "checksum",
            "seq",
            "depth",
            F.lit("upsert").alias("op"),
        )
        # spoiled: previously committed, now spoiled with a DELETE (or
        # triggered GRACE_ONCE) strategy -> delete op
        # (GenericSpoiledReferenceStrategizer state->strategy mapping)
        if cfg.spoiled_delete:
            docs = docs.unionByName(
                _delete_ops(parsed.filter(F.col("spoiled_del")))
            )

        # ONE explode of each row's judged candidates — its redirect or
        # canonical target, its links and, for a committed doc, its
        # post-import links (PostImportLinksStage: committer phase, after
        # every regular link, whose positions HtmlLinkExtractor caps at
        # 2048): no union branches for the anti-join to be pushed into.
        def cands(arr, depth, trail, pos0=0):
            return F.transform(
                arr,
                lambda c: F.struct(
                    *[c[k].alias(k)
                      for k in ("url", "raw_url", "host", "outcome")],
                    depth.alias("depth"),
                    trail.alias("trail"),
                    (c["pos"] + pos0).alias("out_pos"),
                ),
            )

        def explode(rows, arr):
            return rows.select(
                F.col("sched_ms").alias("avail_ms"),
                F.col("seq").alias("parent_seq"),
                F.explode(arr).alias("c"),
            ).select("c.*", "avail_ms", "parent_seq")

        no_trail = F.array().cast("array<string>")
        target = cands(
            F.array("target"),
            F.col("depth"),
            F.concat(F.col("trail"), F.array(F.col("url"))),
        )
        pieces = [
            F.when(_target_col(cfg), target),
            cands(F.col("links"), F.col("depth") + 1, no_trail),
        ]
        if cfg.post_import_links:
            pieces.append(
                F.when(
                    F.col("outcome").isin("NEW", "MODIFIED"),
                    cands(F.col("post_links"), F.col("depth") + 1, no_trail,
                          1_000_000),
                )
            )
        # the explodes read the parse checkpoint through a narrow
        # coalesce to at most one partition per core. It keeps a
        # one-partition checkpoint from reporting SinglePartition: the
        # URL-seen and requeue joins would then have one-partition
        # inputs on both sides, and with the checkpoints' inflated size
        # estimates the planner shuffles both instead of one.
        src = parsed.coalesce(self._parallelism)
        cand = explode(
            src, F.concat(*[F.coalesce(p, F.array()) for p in pieces])
        )
        requeue = None
        if cfg.redirect_requeue:
            redirect = _target_col(cfg) & (F.col("outcome") == "REDIRECT")
            redirects = explode(src.filter(redirect), target)
            requeue = self._requeue_redirects(parsed, redirects)
        return processed, docs, cand, requeue

    def _requeue_redirects(
        self, parsed: DataFrame, redirects: DataFrame
    ) -> DataFrame:
        """The redirect one-requeue rule (WebImporterPipelineUtil.java:
        103-160): a redirect target already PROCESSED with a bad outcome
        and not in the current trail is queued once more via
        requeueEntry — BYPASSING the queue pipeline (so it skips the
        URL-seen anti-join and the judge's verdict); the rows come out
        already evaluated, their target as the fetch+parse pass
        normalized it. The sequential ledger lookup is reproduced by the
        event stream: the latest event before the redirecting source's
        own turn decides the target's state. The bad_events state is
        the compact bad-target state (all historical turns < any live
        parent_seq by seq monotonicity), so only current-level
        PROCESSED events need the turn comparison."""
        from ..functions.checksums import GOOD_OUTCOMES

        rq = redirects.filter(F.col("url").isNotNull())
        cur_ev = parsed.select(
            "url",
            F.col("seq").alias("turn"),
            F.lit("PROCESSED").alias("kind"),
            F.col("outcome").alias("ev_outcome"),
        )
        ev = self._states["bad_events"].read().unionByName(cur_ev)
        j = rq.join(ev, "url", "inner").filter(
            F.col("turn") < F.col("parent_seq")
        )
        last = j.groupBy("url", "parent_seq").agg(
            F.first("depth").alias("depth"),
            F.first("avail_ms").alias("avail_ms"),
            F.first("trail").alias("trail"),
            F.first("out_pos").alias("out_pos"),
            F.first("raw_url").alias("raw_url"),
            F.first("host").alias("host"),
            F.max_by(
                F.struct(F.col("kind"), F.col("ev_outcome")),
                F.col("turn"),
            ).alias("last"),
        )
        matched = last.filter(
            (F.col("last.kind") == "PROCESSED")
            & ~F.coalesce(
                F.col("last.ev_outcome").isin(*GOOD_OUTCOMES),
                F.lit(False),
            )
            & ~F.array_contains(F.col("trail"), F.col("url"))
        )
        return matched.select(
            "url",
            seen_key(F.col("url")).alias("seen_key"),
            "host",
            "depth",
            "avail_ms",
            "trail",
            "parent_seq",
            "out_pos",
            F.lit(0).alias("sub"),
            F.lit(None).cast("string").alias("sm_lastmod"),
            F.lit(None).cast("string").alias("sm_changefreq"),
            F.lit("QUEUED").alias("status"),
            F.lit(None).cast("string").alias("outcome"),
            *([F.col("raw_url")] if self.cfg.record_url_variants else []),
        )

    def _queue_level(
        self, parsed: DataFrame, cand: DataFrame, requeue: DataFrame | None
    ) -> tuple[_Queued, dict]:
        """Stage 6: the queue pipeline over the level's candidates, then
        the level's ONE action — its queue-status counts and the parse
        checkpoint's per-outcome metrics in a single merged collect.
        Both inputs are checkpoints by then, so the collect runs two
        one-node plans. Returns the queue result and the level's
        metrics."""
        cfg = self.cfg
        # the pipeline's shuffles are sized from the previous level's
        # branching ratio (an estimate only shapes the physical plan;
        # the metrics use the exact count from the collect below). A
        # level at max_depth extracts no links (parse kernel), so its
        # candidates are only redirect/canonical/post-import targets —
        # at most about one per row.
        leaf = (
            self._frontier_min_depth is not None
            and self._frontier_min_depth >= cfg.max_depth >= 0
        )
        n_est = max(
            1,
            int(self.queued_remaining * (1.0 if leaf else self._branch_est)),
        )
        q = self._queue_pipeline(cand, n_est, extra_evaluated=requeue)
        agg_df = parsed.groupBy("outcome").agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.size("links"), F.lit(0))).alias("n_links"),
            F.sum(F.coalesce(F.col("links_all_n"), F.lit(0))).alias(
                "n_links_all"
            ),
            F.sum(
                F.when(F.size("trail") >= cfg.max_redirect_trail, 1).otherwise(0)
            ).alias("n_loops"),
            F.sum(F.when(_target_col(cfg), 1).otherwise(0)).alias(
                "n_targets"
            ),
            F.sum(F.when(F.col("spoiled_del"), 1).otherwise(0)).alias(
                "n_spoiled_del"
            ),
            F.max("sched_ms").alias("max_sched"),
            F.sum(F.coalesce(F.size("post_links"), F.lit(0))).alias("n_post"),
        )
        # the queue counts are the rows with a (never null) status
        rows = agg_df.unionByName(q.counts, allowMissingColumns=True).collect()
        agg_rows = [r for r in rows if r["status"] is None]
        q_rows = [r for r in rows if r["status"] is not None]
        out_counts = {r["outcome"]: r["n"] for r in agg_rows}
        n_links = int(sum(r["n_links"] for r in agg_rows))
        n_links_all = int(sum(r["n_links_all"] for r in agg_rows))
        n_post = sum(
            int(r["n_post"])
            for r in agg_rows
            if r["outcome"] in ("NEW", "MODIFIED")
        )
        n_cand = n_links + n_post + sum(int(r["n_targets"]) for r in agg_rows)
        stats = self._queue_stats(q, q_rows, n_cand)
        fetched_n = sum(out_counts.values())
        self._branch_est = max(1.0, stats["CANDIDATES"] / max(1, fetched_n))
        self._max_sched_seen = max(
            [self._max_sched_seen]
            + [
                int(r["max_sched"])
                for r in agg_rows
                if r["outcome"] != "PREMATURE" and r["max_sched"] is not None
            ]
        )
        n_prem = out_counts.get("PREMATURE", 0)
        stats.update(
            {
                "REJECTED_PREMATURE": n_prem,
                "DOCUMENT_FETCHED": fetched_n - n_prem,
                "DOCUMENT_COMMITTED_UPSERT": out_counts.get("NEW", 0)
                + out_counts.get("MODIFIED", 0),
                "REJECTED_UNMODIFIED": out_counts.get("UNMODIFIED", 0),
                "DOCUMENT_COMMITTED_DELETE": (
                    sum(r["n_spoiled_del"] for r in agg_rows)
                    if cfg.spoiled_delete
                    else 0
                ),
                "REJECTED_NOTFOUND": out_counts.get("NOT_FOUND", 0),
                "REJECTED_BAD_STATUS": out_counts.get("BAD_STATUS", 0),
                "DOCUMENT_REDIRECTED": out_counts.get("REDIRECT", 0),
                "REJECTED_NONCANONICAL": out_counts.get("NONCANONICAL", 0),
                "REJECTED_NOINDEX": out_counts.get("NOINDEX", 0),
                "REJECTED_FILTER_IMPORT": out_counts.get("FILTERED", 0),
                "REJECTED_DUPLICATE": out_counts.get("DUPLICATE", 0),
                "REJECTED_REDIRECT_LOOP": sum(
                    r["n_loops"]
                    for r in agg_rows
                    if r["outcome"] == "REDIRECT"
                ),
                "URLS_EXTRACTED": n_links_all,
                "URLS_OUT_OF_SCOPE": n_links_all - n_links,
                "URLS_POST_IMPORTED": n_post,
            }
        )
        return q, stats

    # -- ending a level -------------------------------------------------------
    def _end_level(
        self,
        q: _Queued | None,
        part: str,
        stats: dict,
        *,
        processed: DataFrame | None = None,
        docs: DataFrame | None = None,
    ) -> None:
        """End a level — bootstrap, a superstep or the orphan pass: add
        it to every cross-level state, hand the next superstep its
        frontier in memory, advance the counters, and submit the
        level's durable writes as ONE write-behind commit.

        ``q`` is the level's queue-pipeline result (None: the level
        queued nothing); its rows are an eager localCheckpoint with
        exactly LEDGER_SCHEMA's columns, and the next frontier is a
        lazy projection of them. ``processed`` is a superstep's
        PROCESSED rows (a projection of its parse checkpoint); ``docs``
        are the level's document ops.

        The next superstep depends only on in-memory state (frontier,
        cross-level states, Bloom bitmap, driver counters). The level
        part, documents part, sitemap trigger hosts and manifest go to
        a single ordered committer thread: a crash before a manifest
        lands replays that level identically from the previous
        manifest (a crash before bootstrap's manifest leaves nothing to
        resume, as before any commit). The commit reads only
        checkpointed rows, so the background writes can never re-run a
        fetch, and they are shuffle-free: the main thread's per-level
        shuffle-partition changes cannot reach them."""
        if q is None:
            empty = self.spark.createDataFrame([], LEDGER_SCHEMA)
            q = _Queued(empty, None, None, {})
        new_rows = q.rows
        self._pinned.append(new_rows)
        if self._bloom_synced:
            # the bitmap isn't consulted again until the NEXT level's
            # queue pipeline — fold the new keys in on the pool and
            # only block there (_resolve_bloom)
            self._bloom_fut = self._ckpt_pool.submit(
                self.bloom.add_df, key_rows(new_rows)
            )
        level = new_rows
        if processed is not None:
            level = processed.unionByName(new_rows)
        self._add_level(processed, level, q.sitemap_hosts)
        self._frontier_mem = new_rows.filter(F.col("status") == "QUEUED")
        self._frontier_part = part
        self._record_metrics(stats, part)
        self.committed_total += stats.get("DOCUMENT_COMMITTED_UPSERT", 0)
        self.queued_remaining += (
            stats.get("DOCUMENT_QUEUED", 0)
            - stats.get("DOCUMENT_FETCHED", 0)
            - stats.get("REJECTED_PREMATURE", 0)
        )
        if part != "0-bootstrap":
            self.superstep += 1
        ckpt_state = {
            "superstep": self.superstep,
            "max_seq": self.max_seq,
            "committed_total": self.committed_total,
            "queued_remaining": self.queued_remaining,
            "orphans_done": self._orphans_done,
            "frontier_part": part,
            "branch_est": self._branch_est,
            "frontier_min_depth": self._frontier_min_depth,
            "max_sched_seen": self._max_sched_seen,
            "metrics": list(self._metric_rows),
        }
        # coalesce the union branches: without it each branch keeps its
        # own partitions and the write stage runs 2x-parallelism
        # concurrent tasks — oversubscribing the Python workers 2:1
        # (measured 5x core-seconds inflation on the image stage)
        n_out = self._n_part(
            stats.get("DOCUMENT_FETCHED", 0) + stats.get("DOCUMENT_QUEUED", 0)
        )
        level = level.coalesce(n_out)
        if docs is not None:
            docs = docs.coalesce(n_out)

        def commit():
            self.levels.append(level, part)
            if docs is not None:
                self.documents.append(docs, part)
            if q.sitemap_hosts is not None:
                # the sitemap_hosts state's durable form (see
                # plans/state.py); truncation on resume follows the
                # level parts'
                self.sitemap_hosts.append(q.sitemap_hosts, part)
            self._write_ckpt(ckpt_state)

        self._raise_failed()
        self._pending.append(self._committer.submit(commit))

    def _inject_orphans(self) -> None:
        """Orphan pass: every baseline URL never rediscovered this run
        (RequeueOrphansForProcessingStep analog). PROCESS requeues them
        through the normal queue pipeline in baseline-seq order;
        DELETE emits delete ops for previously committed ones; IGNORE
        ends an empty level."""
        # land the last level's pool folds before the queue pipeline
        # changes session settings
        self.flush()
        tick = _Tick(self.spark, self.superstep)
        orphans = self.baseline.join(
            self._states["keys"].read().select("url"), "url", "left_anti"
        ).cache()
        self._pinned.append(orphans)
        strategy = self.cfg.orphan_strategy
        q = None
        stats = {}
        docs = None
        if strategy == "PROCESS":
            cand = orphans.select(
                F.col("url").alias("raw_url"),
                F.col("depth").cast("int").alias("depth"),
                F.lit(0).cast("long").alias("avail_ms"),
                F.array().cast("array<string>").alias("trail"),
                F.col("seq").cast("long").alias("parent_seq"),
                F.lit(0).alias("out_pos"),
            )
            n = orphans.count()
            q = self._queue_pipeline(cand, n)
            stats = self._queue_stats(q, q.counts.collect(), n)
            stats["ORPHANS_REQUEUED"] = n
        elif strategy == "DELETE":
            # checkpointed: the write-behind commit must not read the
            # orphan cache, which is released below
            docs = _delete_ops(
                orphans.filter(F.col("checksum").isNotNull())
            ).localCheckpoint(eager=True)
            stats["DOCUMENT_COMMITTED_DELETE"] = docs.count()
        orphans.unpersist()
        tick("orphans")
        self._end_level(q, f"{self.superstep:06d}", stats, docs=docs)
        tick("end_level")

    def run(self, max_supersteps: int = 10_000) -> list[StepStats]:
        out = []
        for _ in range(max_supersteps):
            st = self.step()
            if st is None:
                hit_max_docs = (
                    self.cfg.max_docs is not None
                    and self.committed_total >= self.cfg.max_docs
                ) or (
                    self.cfg.max_crawl_duration_ms is not None
                    and self._max_sched_seen
                    >= self.cfg.max_crawl_duration_ms
                )
                if not self._orphans_done and not hit_max_docs:
                    self._orphans_done = True
                    self._inject_orphans()
                    continue
                break
            out.append(st)
        self.flush()
        # _set_shuffle may have left AQE off after a small final level;
        # restore the session default so later non-engine queries (and
        # plan tests) see it on
        self.spark.conf.set("spark.sql.adaptive.enabled", "true")
        return out

    # -- outputs -------------------------------------------------------------
    def _record_metrics(self, stats: dict, part: str) -> None:
        self._metric_rows.extend(
            (part, k, int(v)) for k, v in stats.items()
        )

    def fetch_log(self) -> DataFrame:
        """(url, host, depth, scheduled_at_ms, outcome) in fetch order."""
        self.flush()
        return (
            self.levels.read()
            .filter(F.col("status") == "PROCESSED")
            .select(
                "seq",
                "url",
                "host",
                "depth",
                F.col("sched_ms").alias("scheduled_at_ms"),
                "outcome",
            )
            .orderBy("seq")
        )

    def url_status_report(
        self,
        status_codes: str | None = None,
        out_dir: str | None = None,
        file_name_prefix: str = "urlstatuses-",
    ) -> DataFrame:
        """UrlStatusCrawlerEventListener analog (web/.../event/
        listeners/UrlStatusCrawlerEventListener.java:30-160): every
        fetched URL with its raw HTTP response code and its referrer
        (the parent row's url via parent_seq — the reference takes
        getReferrerReference()), optionally filtered to the
        comma-separated code list with inclusive ``lo-hi`` ranges
        (e.g. ``"100-199,201-599"`` = everything but 200). Returns
        the report DataFrame ordered by fetch seq; when ``out_dir``
        is set also writes ``<prefix><last-part>`` CSV part files
        there (distributed write — no driver collect)."""
        self.flush()
        ledger = self.levels.read()
        rows = ledger.filter(
            (F.col("status") == "PROCESSED") & F.col("http_status").isNotNull()
        ).select("seq", "parent_seq", "url", "http_status")
        if status_codes:
            cond = None
            for tok in str(status_codes).split(","):
                tok = tok.strip()
                if not tok:
                    continue
                if "-" in tok:
                    lo, hi = (int(x) for x in tok.split("-", 1))
                    c = F.col("http_status").between(lo, hi)
                else:
                    if not tok.isdigit():
                        raise ValueError(
                            "url_status_report: statusCodes must be "
                            f"numbers or lo-hi ranges, got {tok!r}"
                        )
                    c = F.col("http_status") == int(tok)
                cond = c if cond is None else (cond | c)
            if cond is not None:
                rows = rows.filter(cond)
        # a seq appears on both its QUEUED and PROCESSED ledger rows
        # with the same url — distinct() keeps the referrer join 1:1
        parents = ledger.select(
            F.col("seq").alias("parent_seq"), F.col("url").alias("referrer")
        ).distinct()
        report = (
            rows.join(parents, "parent_seq", "left")
            .select(
                "seq",
                F.coalesce("referrer", F.lit("")).alias("referrer"),
                "url",
                F.col("http_status").alias("status"),
            )
            .orderBy("seq")
        )
        if out_dir is not None:
            report.drop("seq").write.mode("overwrite").option(
                "header", True
            ).csv(
                os.path.join(
                    out_dir,
                    f"{file_name_prefix}{self._frontier_part or '0-bootstrap'}",
                )
            )
        return report

    def urlseen(self) -> DataFrame:
        """Final per-URL state: the latest-superstep row wins (a QUEUED
        row is superseded by its PROCESSED row one level later; at the
        bootstrap/step-0 tie the higher status rank wins)."""
        self.flush()
        rank = (
            F.when(F.col("status") == "PROCESSED", 2)
            .when(F.col("status") == "REJECTED", 1)
            .otherwise(0)
        )
        w = Window.partitionBy("url").orderBy(
            F.desc("superstep"), F.desc(rank)
        )
        return (
            self.levels.read()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("url", "status", "outcome", "depth")
        )

    def docs_df(self) -> DataFrame | None:
        self.flush()
        return self.documents.read()

    def deletes_df(self) -> DataFrame | None:
        self.flush()
        docs = self.documents.read()
        return docs.filter(F.col("op") == "delete") if docs is not None else None

    def metrics_df(self) -> DataFrame | None:
        if not self._metric_rows:
            return None
        return self.spark.createDataFrame(
            self._metric_rows, schema="superstep string, event string, count long"
        )


def load_baseline(spark: SparkSession, prev_workdir: str) -> DataFrame:
    """Previous run's ledger as the incremental baseline:
    (url, checksum, depth, seq, sched_ms) — the ledger_a->baseline flip
    of CrawlerEntryLedger.java:619-658 re-expressed as reading the
    prior run's final state.

    The checksum is the *cached* one: present for every row that
    reached the checksum stage (NEW/MODIFIED/UNMODIFIED/DUPLICATE —
    DocumentChecksumStage stores it on the entry even when the row is
    then rejected) and carried forward on PREMATURE; null for rows
    rejected earlier (NOINDEX/NONCANONICAL/errors)."""
    ledger_dir = os.path.join(prev_workdir, "ledger_levels")
    table = AppendTable(spark, ledger_dir, schema=LEDGER_SCHEMA)
    if not table.parts():
        # a prev_workdir with no committed level parts is a wrong path
        # or an incompatible layout — silently returning an empty
        # baseline would degrade the recrawl into a full crawl
        raise FileNotFoundError(
            f"no ledger level parts under {ledger_dir}; "
            "not a completed crawlspark workdir"
        )
    levels = table.read()
    from ..functions.checksums import CACHED_OUTCOMES

    cached = F.col("outcome").isin(*CACHED_OUTCOMES)
    w = Window.partitionBy("url").orderBy(F.desc("seq"))
    return (
        levels.filter(F.col("status") == "PROCESSED")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)  # latest row wins (redirect requeue)
        .select(
            "url",
            "depth",
            "seq",
            "sched_ms",
            F.when(cached, F.col("checksum")).alias("checksum"),
            # meta_ck is already stage-gated at write time
            "meta_ck",
            "sm_lastmod",
            "sm_changefreq",
            # prior outcome drives the GRACE_ONCE spoiled strategy
            "outcome",
        )
    )
