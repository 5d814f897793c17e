"""Unit tests for the URL-seen operators: Bloom prefilter, dense seq
assignment, first-wins dedup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawlspark.operators.dedup import BloomPrefilter, assign_seq, first_wins


def test_bloom_no_false_negatives_and_low_fpp(spark):
    n = 50_000
    seen = spark.range(n).select(
        F.col("id").alias("url"), F.xxhash64(F.col("id")).alias("seen_key")
    )
    bloom = BloomPrefilter(1 << 20)
    bloom.add_df(seen)
    # candidates: half seen, half fresh
    cand = spark.range(n // 2, n + n // 2).select(
        F.col("id").alias("url"), F.xxhash64(F.col("id")).alias("seen_key")
    )
    maybe, fresh = bloom.filter_candidates(cand)
    maybe_ids = set(r["url"] for r in maybe.collect())
    fresh_ids = set(r["url"] for r in fresh.collect())
    # every genuinely-seen candidate MUST be in maybe (no false negatives)
    for i in range(n // 2, n):
        assert i in maybe_ids
    # false positive rate among genuinely-fresh candidates stays low
    fp = sum(1 for i in range(n, n + n // 2) if i in maybe_ids)
    assert fp / (n // 2) < 0.05, fp
    assert fresh_ids.isdisjoint(set(range(n // 2, n)))


def test_bloom_probe_overflow_safe():
    # keys at the int64 extremes must not overflow the probe math
    keys = np.array([-(1 << 63), (1 << 63) - 1, 0, -1], dtype=np.int64)
    for pos in BloomPrefilter._probe_positions(keys, 1 << 20):
        assert ((pos >= 0) & (pos < (1 << 20))).all()


@pytest.mark.parametrize("n_part", [1, 4])
def test_assign_seq_dense_and_ordered(spark, n_part):
    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("a"),
        F.col("id").alias("b"),
    )
    out = assign_seq(df, ["a", "b"], start=100, n_part=n_part).collect()
    rows = sorted(out, key=lambda r: (r["a"], r["b"]))
    seqs = [r["seq"] for r in rows]
    assert seqs == list(range(100, 100 + len(rows)))


@pytest.mark.parametrize("n_part", [1, 4])
def test_assign_seq_null_first_column_sorts_first(spark, n_part):
    df = spark.createDataFrame(
        [(None, 2), (5, 0), (None, 1), (3, 9)], "a long, b long"
    )
    out = assign_seq(df, ["a", "b"], start=0, n_part=n_part).collect()
    got = {(r["a"], r["b"]): r["seq"] for r in out}
    assert got == {(None, 1): 0, (None, 2): 1, (3, 9): 2, (5, 0): 3}


@pytest.mark.parametrize("n_part", [1, 4])
def test_assign_seq_empty(spark, n_part):
    df = spark.createDataFrame([], "a long, b long")
    assert assign_seq(df, ["a", "b"], start=0, n_part=n_part).count() == 0


def test_assign_seq_single_partition_adds_no_jobs(spark):
    """``n_part=1`` (the path every small crawl level takes) launches
    no range-sampling or per-partition count job: collecting it costs
    no more Spark jobs than a plain one-partition sort."""
    df = spark.range(5_000).select(
        (F.col("id") * 7919 % 5_000).alias("a"), F.col("id").alias("b")
    )
    sc = spark.sparkContext

    def n_jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            build().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    base = n_jobs(
        "seq-baseline",
        lambda: df.repartition(1).sortWithinPartitions("a", "b"),
    )
    one = n_jobs(
        "seq-one-part", lambda: assign_seq(df, ["a", "b"], 0, n_part=1)
    )
    assert 0 < one <= base, (one, base)


def test_first_wins(spark):
    df = spark.createDataFrame(
        [("u1", 5, 0), ("u1", 3, 1), ("u2", 9, 0), ("u1", 3, 0)],
        "url string, parent_seq long, out_pos int",
    )
    out = first_wins(df, "url", ["parent_seq", "out_pos"]).collect()
    got = {r["url"]: (r["parent_seq"], r["out_pos"]) for r in out}
    assert got == {"u1": (3, 0), "u2": (9, 0)}


def test_lsh_bucket_caps(spark, caplog):
    """Degenerate LSH buckets must be capped loudly: a mass-duplicate
    corpus (every doc identical -> one bucket) would otherwise pair
    quadratically. With the cap the pair output is bounded and the
    drop is logged; distinct docs in healthy buckets are unaffected."""
    import logging

    from crawlspark.operators.similarity import embedding_neardup_pairs
    from crawlspark.operators.textops import (
        minhash_dup_pairs,
        simhash_dup_pairs,
    )

    dup_text = "the same boilerplate page body repeated verbatim " * 4
    rows = [(i, dup_text) for i in range(40)]
    rows += [(100, "a unique document about rivers and maps"),
             (101, "another unique document about stars and ships")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with caplog.at_level(logging.WARNING, logger="crawlspark.lsh"):
        got = minhash_dup_pairs(docs, max_bucket=10).collect()
    # the 40-clone bucket (780 pairs uncapped) is dropped entirely
    assert got == []
    assert any("minhash_dup_pairs" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="crawlspark.lsh"):
        got = simhash_dup_pairs(docs, max_bucket=10).collect()
    assert got == []
    assert any("simhash_dup_pairs" in r.message for r in caplog.records)

    # no cap hit -> identical output to uncapped, no warning
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="crawlspark.lsh"):
        capped = minhash_dup_pairs(docs, max_bucket=1000).collect()
    assert len(capped) == 40 * 39 // 2
    assert not caplog.records

    emb_rows = [(i, [1.0, 0.0, 0.5, 0.25], "dup") for i in range(40)]
    emb_rows += [(100, [-1.0, 2.0, -3.0, 0.5], "u1")]
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label string"
    )
    with caplog.at_level(logging.WARNING, logger="crawlspark.lsh"):
        got = embedding_neardup_pairs(emb, max_bucket=10).collect()
    assert got == []
    assert any(
        "embedding_neardup_pairs" in r.message for r in caplog.records
    )


def test_connected_components(spark):
    """Chain + singleton-pair graph: min-label propagation converges
    to min-member components and stops early on the fixpoint."""
    from crawlspark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9), (9, 8)], "a long, b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7}


def test_spread_small_input_threshold(spark):
    """Repartitions ONLY below session parallelism — a well-split
    input passes through untouched (no shuffle added at real scale)."""
    from crawlspark.operators.textops import spread_small_input

    par = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id long, text string"
    ).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    assert spread_small_input(small).rdd.getNumPartitions() == par * 2
    wide = spark.range(1000).selectExpr(
        "id as doc_id", "'t' as text"
    ).repartition(par + 4)
    assert spread_small_input(wide) is wide  # identity: no-op


def test_connected_components_long_chain_doubles(spark):
    """50-vertex path graph (diameter 49): pointer-jump doubling must
    converge in O(log D) rounds — max_iter=10 would truncate plain
    propagation (r3's silent-wrong-answer trap) but is ample here."""
    from crawlspark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 50)], "a long, b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_iter=10).collect()
    }
    assert got == {i: 1 for i in range(1, 51)}


def test_connected_components_nonconvergence_is_loud(spark, caplog):
    """Hitting max_iter with labels still changing must never return
    silently: default raises, on_max_iter='warn' logs + warns."""
    import logging
    import warnings

    import pytest

    from crawlspark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 50)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)
    with caplog.at_level(logging.WARNING, logger="crawlspark.operators.dedup"):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            labels = connected_components(
                pairs, max_iter=1, on_max_iter="warn"
            )
            labels.collect()  # truncated but returned
    assert any("did not converge" in r.message for r in caplog.records)
    assert any(issubclass(x.category, RuntimeWarning) for x in w)


def test_overflow_exact_pass_recovers_dropped_bucket_pairs(spark):
    """An over-cap degenerate bucket loses ALL its pairs under the
    default drop policy; overflow='exact' recovers the duplicate
    family through the linear adjacent-chain pass — candidate count
    is n-1 (bounded), not n(n-1)/2, and connected_components stitches
    the chain back into one cluster."""
    from crawlspark.operators.dedup import connected_components
    from crawlspark.operators.textops import minhash_dup_pairs

    n = 30
    rows = [(i, "identical boilerplate page body " * 8) for i in range(n)]
    rows += [(100 + i, f"unique snowflake document number {i} " * 8) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dropped = minhash_dup_pairs(docs, max_bucket=10).collect()
    # every identical doc sat in an over-cap bucket -> its pairs gone
    # (the mildly-similar decoys may still pair among themselves)
    assert not [r for r in dropped if r["a"] < 100 or r["b"] < 100]

    exact = minhash_dup_pairs(
        docs, max_bucket=10, overflow="exact"
    ).filter("a < 100 and b < 100")
    got = exact.collect()
    # linear chain: exactly n-1 pairs, all at est_jaccard 1.0
    assert len(got) == n - 1
    assert all(r["est_jaccard"] == 1.0 for r in got)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            exact.select("a", "b"), max_iter=10
        ).collect()
    }
    assert comp == {i: 0 for i in range(n)}


def test_temperature_rates_properties():
    from crawlspark.operators.textops import temperature_rates

    counts = {"en": 8000, "de": 1500, "zh": 500}
    # T=1 keeps the natural distribution untouched
    assert temperature_rates(counts, 1.0) == {
        "en": 1.0, "de": 1.0, "zh": 1.0
    }
    r = temperature_rates(counts, 3.0)
    # head language downsampled hardest; tail kept whole (max rate 1)
    assert r["zh"] == 1.0
    assert r["en"] < r["de"] < r["zh"]
    assert all(0 < v <= 1.0 for v in r.values())
    # empty stratum passes through at 1.0, zero total is all-keep
    assert temperature_rates({"en": 0}, 2.0) == {"en": 1.0}


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from crawlspark.operators.textops import stratified_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en")
        .when(F.col("id") % 4 == 1, "de")
        .otherwise("zh")
        .alias("lang"),
    )
    rates = {"en": 0.5, "de": 1.0, "zh": 0.1}
    a = stratified_sample(docs, rates).orderBy("doc_id").collect()
    b = stratified_sample(docs, rates).orderBy("doc_id").collect()
    assert a == b  # hash threshold, not RNG: identical on re-run
    by_lang = {}
    for r in a:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    assert by_lang["de"] == 1000  # rate 1.0 keeps everything
    assert 380 <= by_lang["en"] <= 620  # ~0.5 of 1000
    assert 120 <= by_lang.get("zh", 0) <= 280  # ~0.1 of 2000
    # a different salt redraws a different (same-sized-ish) sample
    c = stratified_sample(docs, rates, salt="s2").orderBy(
        "doc_id"
    ).collect()
    assert c != a


def test_scrub_pii_sequential_semantics(spark):
    from crawlspark.operators.textops import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob@x.org and carol@y.co twice"),
            (2, "server at 10.0.0.1 call 555-123-4567"),
            # an @ followed by an IP is NOT an email (the TLD must be
            # alphabetic) — the ip pattern claims it instead
            (3, "odd user@10.0.0.1 case"),
            (4, "nothing to scrub"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_ip"] == 0
    assert got[1]["clean_text"] == "mail <EMAIL> and <EMAIL> twice"
    assert got[2]["n_ip"] == 1 and got[2]["n_phone"] == 1
    assert got[2]["clean_text"] == "server at <IP> call <PHONE>"
    assert got[3]["n_email"] == 0 and got[3]["n_ip"] == 1
    assert got[3]["clean_text"] == "odd user@<IP> case"
    assert got[4]["clean_text"] == "nothing to scrub"


def test_split_assign_exhaustive_and_proportional(spark):
    from crawlspark.operators.textops import split_assign

    docs = spark.range(10000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_assign(docs, w)
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert sum(counts.values()) == 10000  # every row in exactly 1 split
    assert 7700 <= counts["train"] <= 8300
    assert 800 <= counts["val"] <= 1200
    assert 800 <= counts["test"] <= 1200
    # deterministic: same assignment on re-run
    again = {
        r["doc_id"]: r["split"] for r in split_assign(docs, w).collect()
    }
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again


def test_repetition_stats_known_values(spark):
    from crawlspark.operators.textops import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 2 distinct
            (2, "w x y z"),          # all distinct
            (3, "solo"),             # too short for bigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_distinct"], r["n_repeats"])
        for r in repetition_stats(docs, n=2).collect()
    }
    assert got[1] == (5, 2, 3)
    assert got[2] == (3, 3, 0)
    assert got[3] == (0, 0, 0)


def test_decontaminate_known_values(spark):
    from crawlspark.operators.textops import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shares "alpha beta gamma"
            (2, "delta epsilon zeta"),           # 3 tokens, no bench gram
            (3, "x y z alpha beta gamma q"),     # shares the same gram
            (4, "totally different words here"),
            (5, "ab"),                           # < n tokens -> no grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(corpus, bench, n=3).collect()
    }
    assert got == {
        1: (1, True),
        2: (0, False),
        3: (1, True),
        4: (0, False),
        5: (0, False),
    }


def test_source_mix_integer_weights(spark):
    from crawlspark.operators.textops import source_mix

    docs = spark.createDataFrame(
        [
            (1, "a", "one two three"),       # 3 tokens
            (2, "a", "one two three"),       # exact dup of 1
            (3, "b", "four five six seven"),  # 4
            (4, "b", "eight nine"),           # 2
        ],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r.asDict() for r in source_mix(docs).collect()}
    assert got["a"]["n_docs"] == 2
    assert got["a"]["n_tokens"] == 6
    assert got["a"]["n_unique_docs"] == 1  # the dup collapses
    assert got["b"]["n_unique_docs"] == 2
    # total = 12 tokens; integer ppm, floor division
    assert got["a"]["weight_ppm"] == 500000
    assert got["b"]["weight_ppm"] == 500000
    assert (
        got["a"]["weight_ppm"] + got["b"]["weight_ppm"] <= 1_000_000
    )


def test_scrub_duplicated_spans_known_values(spark):
    from crawlspark.operators.textops import scrub_duplicated_spans

    boiler = "accept all cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} unique alpha text one extra"),
            (2, f"{boiler} different beta words here"),
            (3, f"{boiler} third gamma body now"),
            (4, "completely original document four tail"),
            (5, "tiny"),  # < k words: tail only, kept verbatim
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in scrub_duplicated_spans(
            docs, k=5, max_occurrences=1
        ).collect()
    }
    # the shared 5-word banner occurs 3x -> removed everywhere;
    # each doc keeps its unique second tile + tail word
    assert got[1]["clean_text"] == "unique alpha text one extra"
    assert got[2]["clean_text"] == "different beta words here"
    assert got[3]["clean_text"] == "third gamma body now"
    assert got[1]["n_tiles"] == 2 and got[1]["n_removed"] == 1
    # doc 2/3: 1 full tile (banner) + 4-word tail -> tile removed
    assert got[2]["n_tiles"] == 1 and got[2]["n_removed"] == 1
    assert got[4]["clean_text"] == (
        "completely original document four tail"
    )
    assert got[4]["n_removed"] == 0
    assert got[5]["clean_text"] == "tiny"
    assert got[5]["n_tiles"] == 0 and got[5]["n_removed"] == 0


def test_bloom_saturation_warns_then_disables(spark):
    """Driver bitmap sized absurdly small: crossing WARN_FILL warns,
    crossing DISABLE_FILL disables — after which filter_candidates
    passes everything through as 'maybe' (exact anti-join unaffected)."""
    keys = spark.range(4000).select(
        F.xxhash64(F.col("id")).alias("seen_key")
    )
    bloom = BloomPrefilter(1 << 10)  # 1024 bits for 4000 keys
    with pytest.warns(RuntimeWarning, match="saturated"):
        bloom.add_df(keys)
    assert not bloom.enabled
    cand = spark.range(50).select(
        F.col("id").alias("url"),
        F.xxhash64(F.col("id")).alias("seen_key"),
    )
    maybe, fresh = bloom.filter_candidates(cand)
    assert maybe.count() == 50 and fresh.count() == 0


def test_crawl_parity_with_synced_bloom(spark, tmp_path):
    """Engine run with the Bloom prefilter synced from the first
    superstep (min_ledger=1): fetch sequence and URL-seen set must
    equal the oracle — the prefilter may only shrink the exact
    anti-join's probe side, never change survivors."""
    from crawlspark.config import CrawlConfig
    from crawlspark.oracle.simulator import CrawlSimulator
    from crawlspark.plans.superstep import CrawlEngine
    from crawlspark.sources.webgen import SiteParams, build_site

    params = SiteParams(
        seed=7, n_hosts=3, depth=3, branching=3, dup_pct=0.25,
        redirect_pct=0.1, cross_pct=0.4, n_seed_hosts=2,
    )
    cfg = CrawlConfig(
        max_depth=3, default_delay_ms=1000,
        bloom_prefilter_min_ledger=1,
    )
    site = build_site(params)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(), site.robots_dict(), cfg
    ).run(seeds)
    eng = CrawlEngine(
        spark, str(tmp_path / "crawl"), cfg,
        site.spark_pages_df(spark), site.spark_robots_df(spark),
    )
    assert isinstance(eng.bloom, BloomPrefilter)
    eng.bootstrap(seeds)
    eng.run()
    assert eng._bloom_synced  # the prefilter path actually engaged
    got = eng.fetch_log().toPandas()
    assert got["url"].tolist() == [r["url"] for r in sim.fetch_log]
    seen = eng.urlseen().toPandas()
    assert sorted(
        zip(seen["url"], seen["status"], seen["outcome"], seen["depth"])
    ) == sorted(
        (r["url"], r["status"], r["outcome"], r["depth"])
        for r in sim.urlseen()
    )


def test_crawl_parity_with_range_partitioned_seq(spark, tmp_path, monkeypatch):
    """Engine run with every queue level's seq assignment forced onto
    the multi-partition path (sampled range partitioning + cached
    per-partition counts): fetch sequence and URL-seen set must equal
    the oracle, and the assigned seqs must stay dense."""
    from crawlspark.config import CrawlConfig
    from crawlspark.oracle.simulator import CrawlSimulator
    from crawlspark.plans import superstep
    from crawlspark.sources.webgen import SiteParams, build_site

    monkeypatch.setattr(superstep, "SMALL_SEQ_ROWS", 0)
    monkeypatch.setattr(superstep, "ROWS_PER_TASK", 8)
    n_parts = []

    def spy(*args, **kwargs):
        n_parts.append(kwargs["n_part"])
        return assign_seq(*args, **kwargs)

    monkeypatch.setattr(superstep, "assign_seq", spy)
    # the synced-Bloom site one level shallower: levels of a few dozen
    # candidates already split into several seq partitions
    params = SiteParams(
        seed=7, n_hosts=3, depth=2, branching=3, dup_pct=0.25,
        redirect_pct=0.1, cross_pct=0.4, n_seed_hosts=2,
    )
    cfg = CrawlConfig(max_depth=2, default_delay_ms=1000)
    site = build_site(params)
    seeds = [r["url"] for r in site.seeds.to_dict("records")]
    sim = CrawlSimulator(
        site.pages_dict(), site.robots_dict(), cfg
    ).run(seeds)
    eng = superstep.CrawlEngine(
        spark, str(tmp_path / "crawl"), cfg,
        site.spark_pages_df(spark), site.spark_robots_df(spark),
    )
    eng.bootstrap(seeds)
    eng.run()
    assert max(n_parts) > 1  # the multi-partition path actually ran
    got = eng.fetch_log().toPandas()
    assert got["url"].tolist() == [r["url"] for r in sim.fetch_log]
    seen = eng.urlseen().toPandas()
    assert sorted(
        zip(seen["url"], seen["status"], seen["outcome"], seen["depth"])
    ) == sorted(
        (r["url"], r["status"], r["outcome"], r["depth"])
        for r in sim.urlseen()
    )
    # every queue-pipeline row (QUEUED or REJECTED; PROCESSED rows
    # re-record an earlier seq) holds one seq of exactly 0..N-1
    assigned = [
        r["seq"]
        for r in eng.levels.read()
        .filter(F.col("status") != "PROCESSED")
        .select("seq")
        .collect()
    ]
    assert sorted(assigned) == list(range(eng.max_seq))


def test_bloom_bits_validation():
    """bloom_bits must be a power of two >= 64: anything else cannot
    be laid out as whole uint64 words. Both the config check and the
    filter itself reject it (a ValueError, not an assert that
    ``python -O`` strips)."""
    from crawlspark.config import CrawlConfig, validate

    for bad in (0, 32, 100, -64, 1 << 20 | 1):
        assert any("bloom_bits" in e for e in validate(
            CrawlConfig(bloom_bits=bad)
        )), bad
        with pytest.raises(ValueError, match="bloom_bits"):
            BloomPrefilter(bad)
    for ok in (64, 1 << 10, CrawlConfig().bloom_bits):
        assert not validate(CrawlConfig(bloom_bits=ok))
        assert BloomPrefilter(ok).words.size == ok // 64
