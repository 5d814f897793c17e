"""Kill/resume identical-replay contract: a crawl interrupted after K
supersteps and resumed from the on-disk checkpoint must produce the
byte-identical fetch sequence and committed set as an uninterrupted
run, which itself matches the pure-Python oracle. Reference analog:
requeue-on-resume (CrawlerEntryLedger.java:206-241,487-511) + the
north rule's per-partition-lineage replay requirement."""

import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.oracle.simulator import CrawlSimulator
from crawlspark.plans.superstep import CrawlEngine
from crawlspark.sources.webgen import SiteParams, build_site, make_fetcher


def _site():
    return build_site(
        SiteParams(
            seed=77,
            n_hosts=3,
            depth=3,
            branching=3,
            dup_pct=0.2,
            redirect_pct=0.1,
            cross_pct=0.3,
            n_seed_hosts=2,
        )
    )


def _kill_after_k_steps_and_resume(spark, tmp_path, k, **cfg_overrides):
    site = _site()
    cfg = CrawlConfig(max_depth=3, default_delay_ms=1000, **cfg_overrides)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    pages = spark.createDataFrame(site.pages)
    robots = spark.createDataFrame(site.robots)

    # uninterrupted reference run
    full = CrawlEngine(spark, str(tmp_path / "full"), cfg, pages, robots)
    full.bootstrap(seeds)
    full.run()
    full_log = full.fetch_log().toPandas()

    # interrupted run: K supersteps, then the engine object is dropped
    # (the "kill") and a NEW engine resumes from the checkpoint. At
    # K=0 the kill comes once bootstrap's write-behind commit is
    # durable: before it there is no checkpoint to resume from.
    part = CrawlEngine(spark, str(tmp_path / "part"), cfg, pages, robots)
    part.bootstrap(seeds)
    for _ in range(k):
        assert part.step() is not None
    if k == 0:
        part.flush()
    del part
    resumed = CrawlEngine.resume(
        spark, str(tmp_path / "part"), cfg, pages, robots
    )
    resumed.run()
    res_log = resumed.fetch_log().toPandas()

    # identical fetch sequence (order AND schedule), identical docs
    assert res_log["url"].tolist() == full_log["url"].tolist()
    assert (
        res_log["scheduled_at_ms"].tolist()
        == full_log["scheduled_at_ms"].tolist()
    )
    full_docs = full.docs_df().toPandas().sort_values("image_id")
    res_docs = resumed.docs_df().toPandas().sort_values("image_id")
    assert res_docs["image_id"].tolist() == full_docs["image_id"].tolist()
    assert res_docs["caption"].tolist() == full_docs["caption"].tolist()

    # and both equal the independent pure-Python oracle
    sim = CrawlSimulator(site.pages_dict(), site.robots_dict(), cfg).run(
        seeds
    )
    assert res_log["url"].tolist() == [r["url"] for r in sim.fetch_log]
    assert res_log["scheduled_at_ms"].tolist() == [
        r["scheduled_at_ms"] for r in sim.fetch_log
    ]


def test_kill_after_k_steps_resume_replays_identically(spark, tmp_path):
    _kill_after_k_steps_and_resume(spark, tmp_path, 2)


def test_kill_after_k_steps_resume_under_thread_scope(spark, tmp_path):
    """Resume rebuilds the politeness host state from the level parts
    by scope key; under THREAD scope that key is the seq slot, not the
    host."""
    _kill_after_k_steps_and_resume(spark, tmp_path, 2, delay_scope="THREAD")


def test_kill_after_bootstrap_resume_replays_identically(spark, tmp_path):
    _kill_after_k_steps_and_resume(spark, tmp_path, 0)


def test_resume_forwards_headers_df(spark, tmp_path):
    """A crawl whose metadata band reads a headers-only dim (the
    real-socket HEAD form) and no pages table resumes with that dim."""
    p = SiteParams(seed=5, n_hosts=2, depth=2, branching=3, n_seed_hosts=2)
    site = build_site(p)
    cfg = CrawlConfig(
        max_depth=2,
        default_delay_ms=1000,
        metadata_checksummer="last_modified",
    )
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    robots = spark.createDataFrame(site.robots)
    headers = spark.createDataFrame(site.pages).select(
        "url", F.col("status").alias("h_status"), "last_modified", "etag"
    )

    def engine(name):
        return CrawlEngine(
            spark, str(tmp_path / name), cfg, None, robots,
            fetcher=make_fetcher(p), headers_df=headers,
        )

    full = engine("full")
    full.bootstrap(seeds)
    full.run()
    full_log = full.fetch_log().toPandas()

    part = engine("part")
    part.bootstrap(seeds)
    assert part.step() is not None
    part.flush()
    del part
    resumed = CrawlEngine.resume(
        spark, str(tmp_path / "part"), cfg, None, robots,
        fetcher=make_fetcher(p), headers_df=headers,
    )
    resumed.run()
    res_log = resumed.fetch_log().toPandas()
    assert len(full_log) > len(seeds)
    assert res_log.equals(full_log)


@pytest.mark.parametrize("seeds", [[], ["mailto:x@y"]])
def test_empty_seed_bootstrap_ends_an_empty_level(spark, tmp_path, seeds):
    """No seed survives normalization: bootstrap still ends its level
    through the write-behind commit, with nothing to crawl."""
    cfg = CrawlConfig(max_depth=3, default_delay_ms=1000)
    robots = spark.createDataFrame([], "host string, body string")
    pages = spark.createDataFrame(
        [], "url string, status int, html string, redirect_to string"
    )
    eng = CrawlEngine(spark, str(tmp_path / "w"), cfg, pages, robots)
    eng.bootstrap(seeds)
    assert eng.step() is None
    assert eng.run() == []
    eng.flush()
    assert eng.levels.read().count() == 0
    assert (tmp_path / "w" / "checkpoint.json").exists()


def test_manifest_with_retired_ledger_rows_key_resumes(spark, tmp_path):
    """Manifests once carried a ``ledger_rows`` counter that always
    equalled ``max_seq``, and the id of a host-state snapshot that
    resume read back. A manifest that still holds them resumes, equal
    to the oracle, and the next manifest writes neither."""
    import json

    html = '<a href="http://h.x/a">a</a><a href="http://h.x/b">b</a>'
    pages = spark.createDataFrame(
        [
            ("http://h.x/", 200, html, None),
            ("http://h.x/a", 200, "<p/>", None),
            ("http://h.x/b", 200, "<p/>", None),
        ],
        "url string, status int, html string, redirect_to string",
    )
    robots = spark.createDataFrame([("h.x", None)], "host string, body string")
    cfg = CrawlConfig(max_depth=2, default_delay_ms=1000)
    ckpt = tmp_path / "w" / "checkpoint.json"
    eng = CrawlEngine(spark, str(tmp_path / "w"), cfg, pages, robots)
    eng.bootstrap(["http://h.x/"])
    assert eng.step() is not None
    eng.flush()
    state = json.loads(ckpt.read_text())
    ckpt.write_text(
        json.dumps(
            {**state, "ledger_rows": state["max_seq"], "host_state_snapshot": 1}
        )
    )
    del eng
    resumed = CrawlEngine.resume(spark, str(tmp_path / "w"), cfg, pages, robots)
    resumed.run()
    log = resumed.fetch_log().toPandas()
    sim = CrawlSimulator(
        {r["url"]: r.asDict() for r in pages.collect()}, {"h.x": None}, cfg
    ).run(["http://h.x/"])
    assert log["url"].tolist() == [r["url"] for r in sim.fetch_log]
    assert log["scheduled_at_ms"].tolist() == [
        r["scheduled_at_ms"] for r in sim.fetch_log
    ]
    assert len(log) == 3
    manifest = json.loads(ckpt.read_text())
    assert "ledger_rows" not in manifest
    assert "host_state_snapshot" not in manifest
