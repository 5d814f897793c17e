"""Engine parity with every dimension join shuffled: with the session's
auto-broadcast threshold off, the crawl-delay, host-state and URL-seen
joins plan as shuffle joins, and robots matching runs through the
broadcast RobotsMatcher UDF (the only matcher). The fetch order and
politeness schedule must still equal the pure-Python oracle's."""

import pandas as pd

from crawlspark.config import CrawlConfig
from crawlspark.oracle.simulator import CrawlSimulator
from crawlspark.plans.superstep import CrawlEngine
from crawlspark.sources.webgen import SiteParams, build_site

SITE = SiteParams(
    seed=31,
    n_hosts=4,
    depth=2,
    branching=4,
    dup_pct=0.1,
    cross_pct=0.3,
    n_seed_hosts=3,
)


def test_join_path_matches_oracle(spark, tmp_path):
    site = build_site(SITE)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    cfg = CrawlConfig(max_depth=2, default_delay_ms=1000)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        eng = CrawlEngine(
            spark,
            str(tmp_path / "shuffled"),
            cfg,
            site.spark_pages_df(spark),
            site.spark_robots_df(spark),
        )
        eng.bootstrap(seeds)
        eng.run()
        got = eng.fetch_log().toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want = pd.DataFrame(
        CrawlSimulator(site.pages_dict(), site.robots_dict(), cfg)
        .run(seeds)
        .fetch_log
    )
    assert got["url"].tolist() == want["url"].tolist()
    assert (
        got["scheduled_at_ms"].tolist() == want["scheduled_at_ms"].tolist()
    )
