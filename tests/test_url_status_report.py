"""UrlStatusCrawlerEventListener analog: http_status persisted on
PROCESSED ledger rows, the urlstatuses report (referrer, url, status)
with comma/range filtering, and the CSV output. Reference contract:
UrlStatusCrawlerEventListener.java:30-160 (fetched URLs + response
code + referrer; statusCodes ranges like 100-199,201-599)."""

import glob

import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.plans.superstep import CrawlEngine
from crawlspark.sources.webgen import SiteParams, build_site


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    site = build_site(
        SiteParams(
            seed=17, n_hosts=3, depth=2, branching=4,
            error_pct=0.25, redirect_pct=0.15, n_seed_hosts=3,
        )
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path_factory.mktemp("usr")),
        CrawlConfig(max_depth=2, default_delay_ms=100),
        spark.createDataFrame(site.pages),
        spark.createDataFrame(site.robots),
    )
    eng.bootstrap([r["url"] for r in site.seeds.to_dict("records")])
    eng.run()
    return eng, site


def test_http_status_on_ledger_and_full_report(crawled):
    eng, site = crawled
    report = eng.url_status_report().toPandas()
    assert len(report) > 10
    # every fetched URL appears with its raw code
    statuses = set(report["status"])
    assert 200 in statuses
    assert statuses - {200}, "error/redirect site must yield non-200s"
    # seeds have no referrer; non-seeds carry their discovering page
    from crawlspark.functions.urls import normalize_url

    seeds = {
        normalize_url(r["url"]) for r in site.seeds.to_dict("records")
    }
    by_url = dict(zip(report["url"], report["referrer"]))
    for s in seeds & set(by_url):
        assert by_url[s] == ""
    non_seed = [u for u in by_url if u not in seeds]
    assert non_seed and all(by_url[u] != "" for u in non_seed)
    # the raw code agrees with the synthetic site's page table
    page_status = {p["url"]: p["status"] for p in site.pages.to_dict("records")}
    for u, st in zip(report["url"], report["status"]):
        if u in page_status:
            assert st == page_status[u], u


def test_status_code_range_filter_and_csv(crawled, tmp_path):
    eng, _site = crawled
    bad_only = eng.url_status_report(
        status_codes="100-199,201-599", out_dir=str(tmp_path)
    ).toPandas()
    assert len(bad_only) > 0
    assert (bad_only["status"] != 200).all()
    single = eng.url_status_report(status_codes="200").toPandas()
    assert (single["status"] == 200).all() and len(single) > 0
    # CSV landed with the default prefix, header, same row count
    files = glob.glob(str(tmp_path / "urlstatuses-*" / "*.csv"))
    assert files
    import pandas as pd

    csv = pd.concat([pd.read_csv(f) for f in files])
    assert len(csv) == len(bad_only)
    assert list(csv.columns) == ["referrer", "url", "status"]
    with pytest.raises(ValueError, match="statusCodes"):
        eng.url_status_report(status_codes="abc")


def test_report_sees_levels_whose_commit_is_still_pending(spark, tmp_path):
    """The report flushes the write-behind committer first, like the
    other ledger readers: right after bootstrap() and one step() on a
    2-host site (no explicit flush) both fetched seeds are reported."""
    site = build_site(
        SiteParams(
            seed=5, n_hosts=2, depth=2, branching=2,
            error_pct=0.0, redirect_pct=0.0, n_seed_hosts=2,
        )
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path / "pending"),
        CrawlConfig(max_depth=2, default_delay_ms=100),
        spark.createDataFrame(site.pages),
        spark.createDataFrame(site.robots),
    )
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    assert len(seeds) == 2
    eng.bootstrap(seeds)
    assert eng.step().fetched == 2
    assert eng.url_status_report().count() == 2
    eng.flush()
