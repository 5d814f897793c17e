"""robots.txt as dataflow: rules dim table + candidate filtering.

The reference caches parsed robots per site in a CacheMap
(StandardRobotsTxtProvider.java:88-139); we parse every host's body
once, distributed, into a flat ``robots_rules`` dim table

    (host, pattern, allow, pattern_len, crawl_delay_ms)

The per-host crawl delays are a dim derived from it (``host_delays``).
Its (host, pattern, allow) rows are collected once per run and
broadcast to the per-URL judge (functions/judge.py), which rejects
candidates with the oracle's ``RobotsMatcher`` inside the fetch+parse
pass — longest match, where Disallow rejects unless a *strictly
longer* Allow matches (RobotsTxtFiltersStage.java:88-103).
``make_robots_verdict_udf`` is that verdict alone as a column UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.robots import parse_robots_txt

RULES_SCHEMA = (
    "host string, pattern string, allow boolean, pattern_len int, "
    "crawl_delay_ms long"
)


def build_robots_rules(robots_df: DataFrame, user_agent: str) -> DataFrame:
    """(host, body) -> flat rules table; hosts with no rules emit one
    allow-all sentinel so crawl-delay still joins."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for host, body in zip(pdf["host"], pdf["body"]):
                parsed = parse_robots_txt(body, user_agent)
                delay = (
                    int(parsed.crawl_delay * 1000)
                    if parsed.crawl_delay is not None
                    else None
                )
                if parsed.rules:
                    for p, allow in parsed.rules:
                        rows.append((host, p, allow, len(p), delay))
                else:
                    rows.append((host, None, True, 0, delay))
            yield pd.DataFrame(
                rows,
                columns=[
                    "host",
                    "pattern",
                    "allow",
                    "pattern_len",
                    "crawl_delay_ms",
                ],
            )

    return robots_df.mapInPandas(parse, schema=RULES_SCHEMA)


def host_delays(rules_df: DataFrame) -> DataFrame:
    """Per-host politeness delay dim (null => default applies)."""
    return rules_df.groupBy("host").agg(
        F.max("crawl_delay_ms").alias("crawl_delay_ms")
    )


def make_robots_verdict_udf(spark, rules_rows: list):
    """Broadcast-dict longest-match verdict as a pandas UDF over
    (url, host) — the robots stage of the per-URL judge
    (functions/judge.py) on its own, for measuring it apart.

    ``rules_rows``: collected (host, pattern, allow) triples from the
    rules dim; the per-host rule lists are broadcast and each host's
    ``RobotsMatcher`` is built through the judge's per-host helper.
    A null host (or a host with no rules) is allowed.
    """
    from ..functions.judge import host_matchers, robots_target, rules_by_host

    b = spark.sparkContext.broadcast(rules_by_host(rules_rows))

    @F.pandas_udf("boolean")
    def robots_ok(url: pd.Series, host: pd.Series) -> pd.Series:
        matcher = host_matchers(b.value)
        out = []
        for u, h in zip(url.tolist(), host.tolist()):
            m = matcher(h) if isinstance(h, str) else None
            out.append(
                m is None
                or m.allowed(robots_target(u) if isinstance(u, str) else "/")
            )
        return pd.Series(out, dtype=bool)

    # deterministic in fact; the marker keeps Catalyst from cloning
    # the Arrow node (fixed per-task Python round-trip) across
    # filter/projection and union branches
    return robots_ok.asNondeterministic()
