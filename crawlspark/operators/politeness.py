"""Per-host politeness scheduler — the one genuinely custom physical
operator (SURVEY.md §4: SiteDelay semantics).

Semantics (engine == oracle, see oracle/simulator.py):
    sched_i = max(avail_i, last_sched[host] + delay_ms)
processed per host in ``seq`` order, where ``avail`` is the
discovering parent's own scheduled time and ``delay_ms`` follows the
reference precedence robots crawl-delay > default 3 s
(AbstractDelayResolver.java:100-115; BaseDelayResolverConfig.java:64;
per-site serialization SiteDelay.java:44-58).

Physical shape: one ``repartition(n, scope_key)``, then
``sortWithinPartitions(scope_key, seq)``, then one ``mapInPandas``
kernel that schedules every scope key of an Arrow batch in a single
vectorized pass. Groups are contiguous runs of the sorted key; with a
per-row delay ``d`` and ``C`` its per-group running sum,
    sched_i = C_i + max(last, running_max(avail_j - C_j))
is one cumulative sum and one grouped cumulative max over the whole
batch, so a batch costs one pandas round trip however many hosts it
holds (a ``groupBy(host).applyInPandas`` paid one per host, about
5 ms each), and a hot host with millions of queued URLs costs O(n)
numpy, not O(n) Python. A group that spans Arrow batches continues
from the ``(key, last sched)`` carried from the previous batch of its
partition. Only groups whose delay depends on the request's own probe
time (time-of-day/URL-pattern resolvers without a robots delay) run
the per-row recurrence. A group must stay whole in one task — the
recurrence is serial per key by *definition* of politeness, so
"salting" a host would change the semantics.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MS_PER_HOUR = 3_600_000


def _in_circular(v, lo, hi) -> bool:
    """Inclusive circular-range containment (CircularRange.contains):
    wraps when lo > hi."""
    return (lo <= v <= hi) if lo <= hi else (v >= lo or v <= hi)


def resolve_delay(
    url: str,
    t_probe_ms: int,
    robots_delay_ms: int | None,
    schedules: tuple,
    patterns: list,
    default_ms: int,
) -> int:
    """Per-request politeness delay with the reference precedence
    (AbstractDelayResolver.java:84-115): robots crawl-delay >
    time-of-day schedule (GenericDelayResolver.java:84-151, circular
    windows, first match wins) > per-URL-pattern delay
    (ReferenceDelayResolver.java, first match wins) > default.

    ``t_probe_ms``: the virtual wall time the request is considered
    (the reference evaluates its schedule at 'now' before sleeping).
    ``patterns``: [(compiled_regex, delay_ms)].
    """
    if robots_delay_ms is not None:
        return int(robots_delay_ms)
    if schedules:
        hour = (t_probe_ms // MS_PER_HOUR) % 24
        for sch in schedules:
            if len(sch) == 3:  # legacy (from_hour, to_hour, delay)
                f_h, t_h, d = sch
                hit = (f_h <= hour < t_h) if f_h <= t_h else (
                    hour >= f_h or hour < t_h
                )
                if hit:
                    return int(d)
                continue
            # (dow_range, dom_range, hour_range, delay) — circular
            # inclusive ranges, any None matches (GenericDelayResolver
            # CircularSchedule.isDateTimeInSchedule)
            dow_r, dom_r, hod_r, d = sch
            if dow_r is not None:
                dow = ((t_probe_ms // 86_400_000) + 3) % 7 + 1  # 1=Mon
                if not _in_circular(dow, *dow_r):
                    continue
            if dom_r is not None:
                from datetime import datetime, timezone

                dom = datetime.fromtimestamp(
                    t_probe_ms / 1000, tz=timezone.utc
                ).day
                if not _in_circular(dom, *dom_r):
                    continue
            if hod_r is not None and not _in_circular(hour, *hod_r):
                continue
            return int(d)
    for rx, d in patterns:
        if rx.search(url):
            return int(d)
    return int(default_ms)


def scope_key_col(scope: str, n_threads: int = 2):
    """Politeness serialization key per BaseDelayResolverConfig scope
    (SiteDelay/CrawlerDelay/ThreadDelay, SURVEY §2.5): SITE -> host;
    CRAWLER -> one global lock; THREAD -> deterministic round-robin
    by ledger seq (the reference's assignment is whichever worker
    thread polls next — nondeterministic; seq % K is the documented
    deterministic analog, identical in engine and oracle)."""
    if scope == "CRAWLER":
        return F.lit("__crawler__")
    if scope == "THREAD":
        return F.concat(
            F.lit("__thread_"),
            F.pmod(F.col("seq"), F.lit(n_threads)).cast("string"),
        )
    return F.col("host")


def _schedule_batch(
    pdf: pd.DataFrame,
    carry: tuple | None,
    default_delay_ms: int,
    schedules: tuple,
    patterns: list,
) -> tuple[np.ndarray, tuple]:
    """``sched_ms`` for one Arrow batch sorted by (``__scope_key``,
    ``seq``), every scope key of the batch in one vectorized pass, and
    the ``(key, last sched)`` to carry into the partition's next batch.

    ``carry``: that pair from the previous batch; a batch that opens
    with its key continues the group. Per row the delay is the robots
    crawl-delay, else the default, so with ``C`` the per-group running
    sum of delays the recurrence ``s_i = max(a_i, s_{i-1} + d_i)`` has
    the closed form ``s_i = C_i + max(last, cummax_{j<=i}(a_j - C_j))``
    (``last`` only when the group has one). Only when time-of-day or
    URL-pattern resolvers are configured does a group holding a row
    without a robots delay run the per-row ``resolve_delay``
    recurrence: that delay depends on the request's own probe time.
    """
    n = len(pdf)
    keys = pdf["__scope_key"].to_numpy(dtype=object)
    keys[pd.isna(keys)] = None  # one null group, as groupBy makes it
    start = np.ones(n, dtype=bool)
    start[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(start)
    seg = np.cumsum(start) - 1

    last_col = pdf["last_sched_ms"].to_numpy(dtype="float64")[starts]
    has_last = ~np.isnan(last_col)
    last = np.where(has_last, last_col, 0).astype("int64")
    if carry is not None and keys[0] == carry[0]:
        has_last[0] = True
        last[0] = carry[1]

    cds = pdf["crawl_delay_ms"].to_numpy(dtype="float64")
    no_robots = np.isnan(cds)
    d = np.where(no_robots, default_delay_ms, cds).astype("int64")
    avail = pdf["avail_ms"].to_numpy(dtype="int64")

    # per-group running sum of delays; int64 wrap-around in the batch
    # sum cancels in the difference
    cs = np.cumsum(d)
    c = cs - (cs - d)[starts][seg]
    run = pd.Series(avail - c).groupby(seg).cummax().to_numpy()
    run = np.where(has_last[seg], np.maximum(run, last[seg]), run)
    sched = c + run

    if schedules or patterns:
        ends = np.append(starts[1:], n)
        py = np.logical_or.reduceat(no_robots, starts)
        urls = pdf["url"].tolist()
        for g in np.flatnonzero(py):
            prev = int(last[g]) if has_last[g] else None
            for i in range(starts[g], ends[g]):
                a = int(avail[i])
                rd = None if no_robots[i] else int(cds[i])
                t_probe = a if prev is None else max(a, prev)
                delay = resolve_delay(
                    urls[i], t_probe, rd, schedules, patterns,
                    default_delay_ms,
                )
                prev = a if prev is None else max(a, prev + delay)
                sched[i] = prev
    return sched, (keys[-1], int(sched[-1]))


def schedule_hosts(
    batch: DataFrame,
    host_delays: DataFrame,
    host_state: DataFrame | None,
    default_delay_ms: int,
    schedules: tuple = (),
    patterns: tuple = (),
    scope: str = "SITE",
    n_threads: int = 2,
    n_part: int | None = None,
) -> DataFrame:
    """Add ``sched_ms`` to a QUEUED batch.

    ``host_delays``: (host, crawl_delay_ms nullable) dim.
    ``host_state``: (scope_key, last_sched_ms) carried
    across supersteps (None on the first). Both joins are unhinted:
    the session's broadcast threshold picks their strategy.
    ``schedules``/``patterns``:
    time-of-day and per-URL delay resolvers — when configured, groups
    holding a row WITHOUT a robots crawl-delay take an O(n)-python
    per-row path (the delay varies per request, so the recurrence has
    no closed form); everything else stays vectorized.
    ``scope``: SITE (default) serializes per host; CRAWLER serializes
    the whole crawl (one group — inherently serial by semantics, the
    recurrence itself is still O(n) numpy); THREAD serializes per
    deterministic seq%K thread slot. Non-SITE groups span hosts, so
    the robots crawl-delay is resolved per row inside the group.
    ``n_part``: width of the one exchange by scope key (default: the
    session's shuffle partitions).
    """
    key = "__scope_key"
    # The kernel needs each scope key whole in one task, which only the
    # user repartition below guarantees: AQE never splits its
    # partitions, but it may split a skewed shuffle-join partition, so
    # Spark must not drop the repartition as redundant. The scope key
    # is added before the host join, so a shuffled host join is never
    # partitioned by it; that join sits below the exchange (above it, a
    # shuffled join on host would re-key it). The host-state dim joins
    # on the scope key above the exchange: a shuffled join there reuses
    # it, so the level pays one exchange.
    b = batch.withColumn(key, scope_key_col(scope, n_threads)).join(
        host_delays, "host", "left"
    )
    b = b.repartition(n_part, key) if n_part else b.repartition(key)
    if host_state is not None:
        b = b.join(host_state.withColumnRenamed("host", key), key, "left")
    else:
        b = b.withColumn("last_sched_ms", F.lit(None).cast("long"))
    b = b.sortWithinPartitions(key, "seq")

    out_schema = T.StructType(
        batch.schema.fields
        + [T.StructField("sched_ms", T.LongType(), False)]
    )
    out_cols = out_schema.fieldNames()
    compiled = [(re.compile(p), d) for p, d in patterns]

    def kernel(batches):
        carry = None
        for pdf in batches:
            if not pdf.empty:
                pdf["sched_ms"], carry = _schedule_batch(
                    pdf, carry, default_delay_ms, schedules, compiled
                )
                yield pdf[out_cols]

    return b.mapInPandas(kernel, schema=out_schema)
