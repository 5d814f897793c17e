"""SitemapResolution parity (web/.../queue/stages/SitemapResolutionStage
.java:63-231 + GenericSitemapResolver): a host's first QUEUED candidate
triggers a once-per-host sitemap parse; the sitemap's URLs enqueue at
depth 0 directly BEFORE the trigger, flow through the normal queue
pipeline, and later link-discoveries of the same URLs dedup against
them."""

import pandas as pd
import pytest

from crawlspark.config import CrawlConfig
from crawlspark.oracle.simulator import CrawlSimulator
from crawlspark.plans.superstep import CrawlEngine
from crawlspark.sources.webgen import SiteParams, build_site

PARAMS = SiteParams(
    seed=31,
    n_hosts=3,
    depth=2,
    branching=3,
    cross_pct=0.4,
    redirect_pct=0.05,
    n_seed_hosts=2,
)
CFG = CrawlConfig(max_depth=2, default_delay_ms=1000, use_sitemaps=True)


@pytest.fixture(scope="module")
def both(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sitemap")
    site = build_site(PARAMS)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(),
        site.robots_dict(),
        CFG,
        sitemaps=site.sitemaps_dict(),
    ).run(seeds)
    eng = CrawlEngine(
        spark,
        str(tmp / "crawl"),
        CFG,
        site.spark_pages_df(spark),
        site.spark_robots_df(spark),
        sitemaps_df=site.spark_sitemaps_df(spark),
    )
    eng.bootstrap(seeds)
    eng.run()
    return site, sim, eng


def test_sitemap_urls_actually_enqueue(both):
    _, sim, _ = both
    assert sim.metrics["SITEMAP_URLS"] > 0
    # sitemap-discovered depth-1 pages are fetched at depth 0
    d1_at_0 = [
        r
        for r in sim.fetch_log
        if "/d1/" in r["url"] and r["depth"] == 0
    ]
    assert d1_at_0, "sitemap URLs must enter at depth 0"


def test_sitemap_fetch_sequence_parity(both):
    _, sim, eng = both
    got = eng.fetch_log().toPandas()
    want = pd.DataFrame(sim.fetch_log)
    assert len(got) == len(want), (len(got), len(want))
    for col in ["url", "depth", "outcome", "scheduled_at_ms"]:
        assert got[col].tolist() == want[col].tolist(), col


def test_sitemap_urls_precede_trigger(both):
    """Within each host, the sitemap URLs are fetched before the
    page that triggered resolution (they hold earlier seqs)."""
    site, sim, eng = both
    log = eng.fetch_log().toPandas()
    # seeds (roots) trigger resolution; the sitemap lists /d1/p*.html,
    # so for seed hosts the d1 sitemap pages must appear before the root
    for host in ["site0000.example.test", "site0001.example.test"]:
        h = log[log["host"] == host].reset_index(drop=True)
        root_pos = h.index[h["url"].str.endswith(".test/")][0]
        d1_pos = h.index[h["url"].str.contains("/d1/")].min()
        assert d1_pos < root_pos, (host, d1_pos, root_pos)


def test_sitemap_metrics_parity(both):
    _, sim, eng = both
    m = eng.metrics_df().toPandas().groupby("event")["count"].sum().to_dict()
    assert m["SITEMAP_URLS"] == sim.metrics["SITEMAP_URLS"]
    skipped = sim.metrics.get("DUPLICATE_URL_SKIPPED", 0) + sim.metrics.get(
        "REJECTED_BAD_URL", 0
    )
    assert m["DUPLICATE_OR_BAD_SKIPPED"] == skipped
    assert m["DOCUMENT_QUEUED"] == sim.metrics["DOCUMENT_QUEUED"]


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    """Index-of-sitemaps layout: every host's /sitemap.xml is a
    <sitemapindex> over two child urlsets (GenericSitemapResolver
    .java:84-165 recursion)."""
    import dataclasses

    tmp = tmp_path_factory.mktemp("sitemap_idx")
    params = dataclasses.replace(PARAMS, sitemap_index_pct=1.0)
    site = build_site(params)
    assert (site.sitemaps.groupby("host").size() == 3).all()
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(),
        site.robots_dict(),
        CFG,
        sitemaps=site.sitemaps_dict(),
    ).run(seeds)
    eng = CrawlEngine(
        spark,
        str(tmp / "crawl"),
        CFG,
        site.spark_pages_df(spark),
        site.spark_robots_df(spark),
        sitemaps_df=site.spark_sitemaps_df(spark),
    )
    eng.bootstrap(seeds)
    eng.run()
    return site, sim, eng


def test_sitemap_index_children_resolve(indexed):
    _, sim, _ = indexed
    # the index itself lists no <url> entries — all locs come from the
    # recursed children, so a non-zero count proves recursion happened
    assert sim.metrics["SITEMAP_URLS"] > 0


def test_sitemap_index_fetch_sequence_parity(indexed):
    _, sim, eng = indexed
    got = eng.fetch_log().toPandas()
    want = pd.DataFrame(sim.fetch_log)
    assert len(got) == len(want), (len(got), len(want))
    for col in ["url", "depth", "outcome", "scheduled_at_ms"]:
        assert got[col].tolist() == want[col].tolist(), col


def test_sitemap_index_locs_precede_trigger(indexed):
    _, _, eng = indexed
    log = eng.fetch_log().toPandas()
    for host in ["site0000.example.test", "site0001.example.test"]:
        h = log[log["host"] == host].reset_index(drop=True)
        root_pos = h.index[h["url"].str.endswith(".test/")][0]
        d1_pos = h.index[h["url"].str.contains("/d1/")].min()
        assert d1_pos < root_pos, (host, d1_pos, root_pos)


def test_urlseen_parity_with_sitemaps(both):
    _, sim, eng = both
    got = (
        eng.urlseen()
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)[["url", "status", "outcome", "depth"]]
    )
    want = (
        pd.DataFrame(sim.urlseen())
        .sort_values("url")
        .reset_index(drop=True)[["url", "status", "outcome", "depth"]]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_sitemap_resume_parity(spark, tmp_path):
    """Mid-crawl kill + resume must not re-trigger (or skip) any
    host's sitemap resolution: the resolved-state is persisted as its
    own sidecar parts, so the resumed fetch sequence and SITEMAP_URLS
    count equal the single-shot oracle's (the QUEUED-rows
    reconstruction it replaces diverged when a trigger's rows all
    died at dedup)."""
    site = build_site(PARAMS)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(),
        site.robots_dict(),
        CFG,
        sitemaps=site.sitemaps_dict(),
    ).run(seeds)
    wd = str(tmp_path / "crawl")
    eng = CrawlEngine(
        spark,
        wd,
        CFG,
        site.spark_pages_df(spark),
        site.spark_robots_df(spark),
        sitemaps_df=site.spark_sitemaps_df(spark),
    )
    eng.bootstrap(seeds)
    eng.step()
    eng.flush()
    del eng
    eng2 = CrawlEngine.resume(
        spark,
        wd,
        CFG,
        site.spark_pages_df(spark),
        site.spark_robots_df(spark),
        sitemaps_df=site.spark_sitemaps_df(spark),
    )
    eng2.run()
    log = eng2.fetch_log().toPandas()
    assert log["url"].tolist() == [r["url"] for r in sim.fetch_log]
    m = eng2.metrics_df().toPandas().groupby("event")["count"].sum().to_dict()
    assert m["SITEMAP_URLS"] == sim.metrics["SITEMAP_URLS"]


def test_store_round_trip_keeps_sitemap_state(spark, tmp_path):
    """The CLI's store members are exactly what a crawl leaves in its
    workdir, so `clean` wipes it all and `storeexport`/`storeimport`
    carry the sitemap trigger-host sidecar. A crawl stopped after one
    step and round-tripped through the store resumes to the oracle's
    fetch sequence and SITEMAP_URLS count."""
    import os

    from crawlspark.cli import STORE_MEMBERS, main

    site = build_site(PARAMS)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(),
        site.robots_dict(),
        CFG,
        sitemaps=site.sitemaps_dict(),
    ).run(seeds)
    wd = str(tmp_path / "crawl")

    def engine(make):
        return make(
            spark,
            wd,
            CFG,
            site.spark_pages_df(spark),
            site.spark_robots_df(spark),
            sitemaps_df=site.spark_sitemaps_df(spark),
        )

    eng = engine(CrawlEngine)
    eng.bootstrap(seeds)
    assert eng.step() is not None
    eng.flush()
    del eng
    assert sorted(os.listdir(wd)) == sorted(STORE_MEMBERS)

    arch = str(tmp_path / "arch")
    assert main(["storeexport", "--workdir", wd, "--out", arch]) == 0
    assert main(["clean", "--workdir", wd]) == 0
    assert os.listdir(wd) == []
    assert main(["storeimport", "--workdir", wd, "--from", arch]) == 0

    eng2 = engine(CrawlEngine.resume)
    eng2.run()
    log = eng2.fetch_log().toPandas()
    assert log["url"].tolist() == [r["url"] for r in sim.fetch_log]
    m = eng2.metrics_df().toPandas().groupby("event")["count"].sum().to_dict()
    assert m["SITEMAP_URLS"] == sim.metrics["SITEMAP_URLS"]
