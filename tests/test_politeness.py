"""Directed unit tests for the per-host politeness scheduler."""

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crawlspark.operators.politeness import resolve_delay, schedule_hosts


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, host string, seq long, avail_ms long"
    )


def test_recurrence_basic(spark):
    batch = _batch(
        spark,
        [
            ("u1", "h1", 0, 0),
            ("u2", "h1", 1, 0),
            ("u3", "h1", 2, 5000),
            ("u4", "h2", 3, 0),
        ],
    )
    delays = spark.createDataFrame(
        [("h1", 1000)], "host string, crawl_delay_ms long"
    )
    out = {
        r["url"]: r["sched_ms"]
        for r in schedule_hosts(batch, delays, None, 3000).collect()
    }
    # h1: first at avail=0; second waits delay; third's avail dominates
    assert out["u1"] == 0
    assert out["u2"] == 1000
    assert out["u3"] == 5000
    # h2 has no robots delay -> default applies but first fetch = avail
    assert out["u4"] == 0


def test_carried_host_state(spark):
    batch = _batch(spark, [("u1", "h1", 10, 0), ("u2", "h1", 11, 0)])
    delays = spark.createDataFrame(
        [("h1", 2000)], "host string, crawl_delay_ms long"
    )
    state = spark.createDataFrame(
        [("h1", 9000)], "host string, last_sched_ms long"
    )
    out = {
        r["url"]: r["sched_ms"]
        for r in schedule_hosts(batch, delays, state, 3000).collect()
    }
    assert out["u1"] == 11000  # last + delay
    assert out["u2"] == 13000


def test_default_delay_precedence(spark):
    # robots delay present -> overrides default (AbstractDelayResolver
    # precedence :100-115); absent -> default
    batch = _batch(
        spark, [("a1", "ha", 0, 0), ("a2", "ha", 1, 0), ("b1", "hb", 2, 0), ("b2", "hb", 3, 0)]
    )
    delays = spark.createDataFrame(
        [("ha", 500), ("hb", None)], "host string, crawl_delay_ms long"
    )
    out = {
        r["url"]: r["sched_ms"]
        for r in schedule_hosts(batch, delays, None, 3000).collect()
    }
    assert out["a2"] - out["a1"] == 500
    assert out["b2"] - out["b1"] == 3000


def test_hot_host_vectorized_scale(spark):
    # one host, 50k queued rows: the recurrence must be O(n) numpy,
    # not per-row Python — this finishes in seconds if vectorized
    n = 50_000
    batch = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit("hot.example").alias("host"),
        F.col("id").alias("seq"),
        F.lit(0).cast("long").alias("avail_ms"),
    )
    delays = spark.createDataFrame(
        [("hot.example", 10)], "host string, crawl_delay_ms long"
    )
    out = schedule_hosts(batch, delays, None, 3000)
    agg = out.agg(
        F.max("sched_ms").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    assert agg["n"] == n
    assert agg["mx"] == (n - 1) * 10


def test_plan_is_one_map_in_pandas(spark):
    """Every scope key of an Arrow batch is scheduled in one pandas
    call: the plan holds one MapInPandas after one exchange and a
    per-partition sort, and no per-group FlatMapGroupsInPandas."""
    batch = _batch(spark, [("u1", "h1", 0, 0), ("u2", "h2", 1, 0)])
    delays = spark.createDataFrame(
        [("h1", 1000)], "host string, crawl_delay_ms long"
    )
    sched = schedule_hosts(batch, delays, None, 3000, n_part=3)
    plan = sched._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert re.search(r"hashpartitioning\(__scope_key#\d+, 3\)", plan), plan


_HOSTS = ["a.x", "b.x", "c.x", None]
_SCHEDULES = [(), ((0, 24, 450),), ((None, None, (0, 23), 250),)]
_PATTERNS = [(), (("/p1", 700),), (("/p[02]", 90), ("/p", 1300))]


def _oracle_rule(rows, robots, state, default, schedules, patterns, key):
    """The oracle's loop (oracle/simulator.py): per scope key in seq
    order, sched = avail for a key's first fetch, else
    max(avail, prev + resolve_delay(...))."""
    compiled = [(re.compile(p), d) for p, d in patterns]
    last = dict(state)
    out = {}
    for url, host, seq, avail in sorted(rows, key=lambda r: r[2]):
        k = key(host, seq)
        prev = last.get(k)
        t_probe = avail if prev is None else max(avail, prev)
        d = resolve_delay(
            url, t_probe, robots.get(host), schedules, compiled, default
        )
        last[k] = out[url] = avail if prev is None else max(avail, prev + d)
    return out


@st.composite
def _politeness_case(draw):
    n = draw(st.integers(1, 14))
    hosts = draw(st.lists(st.sampled_from(_HOSTS), min_size=n, max_size=n))
    seqs = draw(st.permutations(range(100, 100 + n)))
    avail = draw(
        st.lists(st.integers(0, 20_000), min_size=n, max_size=n)
    )
    rows = [
        (f"http://{h}/p{i}", h, s, a)
        for i, (h, s, a) in enumerate(zip(hosts, seqs, avail))
    ]
    robots = {
        h: draw(st.one_of(st.none(), st.integers(0, 3000)))
        for h in _HOSTS[:3]
    }
    scope = draw(st.sampled_from(["SITE", "CRAWLER", "THREAD"]))
    threads = draw(st.integers(1, 3))
    keys = {"SITE": _HOSTS[:3], "CRAWLER": ["__crawler__"]}.get(
        scope, [f"__thread_{i}" for i in range(threads)]
    )
    state = draw(
        st.dictionaries(
            st.sampled_from(keys), st.integers(0, 30_000), max_size=2
        )
    )
    return dict(
        rows=rows,
        robots=robots,
        state=state if draw(st.booleans()) else None,
        scope=scope,
        threads=threads,
        default=draw(st.sampled_from([0, 1000])),
        schedules=draw(st.sampled_from(_SCHEDULES)),
        patterns=draw(st.sampled_from(_PATTERNS)),
        n_part=draw(st.integers(1, 3)),
    )


def test_kernel_matches_oracle_rule_across_arrow_batches(spark):
    """Random batches through the batch kernel, three rows per Arrow
    batch so scope groups span batches (the carried ``(key, last)``
    state), equal a plain loop of the oracle's rule, for every scope,
    null hosts and robots delays, carried host state and the varying
    time-of-day / URL-pattern resolvers."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "3")

    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(_politeness_case())
    def check(case):
        def key(host, seq):
            if case["scope"] == "CRAWLER":
                return "__crawler__"
            if case["scope"] == "THREAD":
                return f"__thread_{seq % case['threads']}"
            return host

        batch = _batch(spark, case["rows"])
        delays = spark.createDataFrame(
            list(case["robots"].items()), "host string, crawl_delay_ms long"
        )
        state = (
            None
            if case["state"] is None
            else spark.createDataFrame(
                list(case["state"].items()),
                "host string, last_sched_ms long",
            )
        )
        got = schedule_hosts(
            batch,
            delays,
            state,
            case["default"],
            schedules=case["schedules"],
            patterns=case["patterns"],
            scope=case["scope"],
            n_threads=case["threads"],
            n_part=case["n_part"],
        )
        want = _oracle_rule(
            case["rows"],
            case["robots"],
            case["state"] or {},
            case["default"],
            case["schedules"],
            case["patterns"],
            key,
        )
        assert {r["url"]: r["sched_ms"] for r in got.collect()} == want

    try:
        check()
    finally:
        spark.conf.set(conf, prev)


def test_hot_host_stays_whole_under_aqe_skew_split(spark):
    """With AQE skew-join splitting forced on a shuffled host-delay
    join, a hot host is still scheduled in one task: the kernel reads
    its own repartition, which AQE never splits and Spark cannot drop
    as redundant over the host-partitioned join."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "50",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 20_000
        batch = spark.range(n).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            F.when(F.col("id") % 10 == 0, F.lit("cold"))
            .otherwise(F.lit("hot"))
            .alias("host"),
            F.col("id").alias("seq"),
            F.lit(0).cast("long").alias("avail_ms"),
        )
        delays = spark.createDataFrame(
            [("hot", 10), ("cold", 7)], "host string, crawl_delay_ms long"
        )
        out = schedule_hosts(batch, delays, None, 3000, n_part=4)
        got = {
            r["host"]: (r["mx"], r["n"])
            for r in out.groupBy("host")
            .agg(F.max("sched_ms").alias("mx"), F.count("*").alias("n"))
            .collect()
        }
        assert got == {"hot": (10 * 17_999, 18_000), "cold": (7 * 1_999, 2_000)}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
