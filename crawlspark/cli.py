"""Command-line entry points — the reference CLI re-expressed for
spark-submit (core/cli/CliStart.java, CliStop/CliClean/CliStoreExport
analogs; SURVEY.md §2.14 Commands row).

Usage (local mode; on a cluster replace --master and add --py-files):

    spark-submit --py-files crawlspark.zip -m crawlspark.cli crawl \
        --workdir /data/run1 --seeds seeds.txt --pages pages.parquet \
        --robots robots.parquet --max-depth 3
    python -m crawlspark.cli resume --workdir /data/run1 ...
    python -m crawlspark.cli export --workdir /data/run1 --out /data/out \
        --format parquet

``crawl`` bootstraps + runs; ``resume`` continues from the last
committed checkpoint manifest (seeds are NOT re-enqueued —
QueueBootstrapper.java:74-79); ``export`` folds the documents op log
into final committed state via a committer sink (storeexport analog).
Seeds come from a text file, one URL per line (RefFileEnqueuer analog)
or repeated --seed flags (RefListEnqueuer analog).
"""

from __future__ import annotations

import argparse
import sys


def _build_cfg(args):
    from .config import CrawlConfig

    return CrawlConfig(
        max_depth=args.max_depth,
        max_docs=args.max_docs,
        default_delay_ms=args.delay_ms,
        include_patterns=tuple(args.include or ()),
        exclude_patterns=tuple(args.exclude or ()),
        stay_on_domain=args.stay_on_domain,
        fetch_retries=args.retries,
    )


def _parse_site(spec: str):
    """--site SEED:HOSTS:DEPTH:BRANCH[:FLAKY_PCT] -> SiteParams."""
    from .sources.webgen import SiteParams

    parts = spec.split(":")
    seed, hosts, depth, branch = (int(x) for x in parts[:4])
    flaky = float(parts[4]) if len(parts) > 4 else 0.0
    return SiteParams(
        seed=seed,
        n_hosts=hosts,
        depth=depth,
        branching=branch,
        flaky_pct=flaky,
        n_seed_hosts=hosts,
    )


def _engine(spark, args, resume: bool):
    from .plans.superstep import CrawlEngine

    cfg = _build_cfg(args)
    fetcher = None
    sitemaps = None
    if getattr(args, "site", None):
        # synthetic-site mode: the fetch slot is webgen's generator
        # fetcher (real-HTTP mapInPandas shape), which honors
        # cfg.fetch_retries for transient 503s (MultiFetcher.java:94-138)
        from .sources.webgen import make_fetcher, robots_body

        p = _parse_site(args.site)
        pages = None
        robots = spark.createDataFrame(
            [(p.host(h), robots_body(p, h)) for h in range(p.n_hosts)],
            schema="host string, body string",
        )
        fetcher = make_fetcher(p, retries=cfg.fetch_retries)
    elif getattr(args, "http", False):
        # real-socket mode (HttpClientFetcher analog): fetch over the
        # network; robots.txt fetched per seed host with the
        # one-redirect retry (StandardRobotsTxtProvider.java:104-113)
        from urllib.parse import urlsplit

        from .sources.httpfetch import (
            HttpFetcherConfig,
            discover_sitemaps_df,
            fetch_robots_df,
            make_http_fetcher,
        )

        hcfg = HttpFetcherConfig(
            retries=cfg.fetch_retries, user_agent=cfg.user_agent
        )
        pages = None
        roots = []
        for s in _read_seeds(args):
            parts = urlsplit(s)
            if parts.scheme and parts.netloc:
                roots.append(
                    (
                        (parts.hostname or "").lower(),
                        f"{parts.scheme}://{parts.netloc}",
                    )
                )
        roots_df = spark.createDataFrame(
            sorted(set(roots)), "host string, root string"
        )
        robots = fetch_robots_df(spark, roots_df, hcfg)
        # sitemap discovery over the same sockets (locator priority:
        # robots Sitemap: directives, then default paths; first 200
        # body wins per host) — default-on like the reference's
        # GenericSitemapResolver
        sitemaps = discover_sitemaps_df(spark, roots_df, robots, hcfg)
        fetcher = make_http_fetcher(hcfg)
        if getattr(args, "render", None):
            # MultiFetcher chain (MultiFetcher.java:110-158): the
            # rendering fetcher accepts matching URLs first; everything
            # else (and render failures) falls through to sockets.
            from .sources.browserfetch import (
                BrowserFetcherConfig,
                _with_retry,
                accept_fn,
                chain_fetchers,
                playwright_render_fn,
            )
            from .sources.httpfetch import fetch_url

            bcfg = BrowserFetcherConfig(
                accept_pattern=(
                    None if args.render == "all" else args.render
                ),
                retries=cfg.fetch_retries,
            )
            fetcher = chain_fetchers(
                [
                    (
                        accept_fn(bcfg),
                        _with_retry(
                            playwright_render_fn(bcfg), bcfg.retries
                        ),
                    ),
                    (
                        lambda u: True,
                        _with_retry(
                            lambda u: fetch_url(u, hcfg),
                            cfg.fetch_retries,
                        ),
                    ),
                ]
            )
    else:
        pages = spark.read.parquet(args.pages) if args.pages else None
        robots = (
            spark.read.parquet(args.robots)
            if args.robots
            else spark.createDataFrame([], "host string, body string")
        )
    if resume:
        return CrawlEngine.resume(
            spark,
            args.workdir,
            cfg,
            pages,
            robots,
            fetcher=fetcher,
            sitemaps_df=sitemaps,
        )
    return CrawlEngine(
        spark,
        args.workdir,
        cfg,
        pages,
        robots,
        fetcher=fetcher,
        sitemaps_df=sitemaps,
    )


def _read_seeds(args) -> list[str]:
    seeds = list(args.seed or [])
    if args.seeds:
        with open(args.seeds) as f:
            seeds += [ln.strip() for ln in f if ln.strip()]
    return seeds


# workdir members owned by the engine — what `clean` wipes and
# `storeexport`/`storeimport` carry (CliClean / CliStoreExport /
# cluster CacheImporter.java:41-157 analogs). File-level copy is
# correct because the store IS immutable parquet parts + JSON
# manifests; on a DFS/Iceberg deployment these become catalog ops.
STORE_MEMBERS = (
    "ledger_levels",
    "documents",
    "sitemap_hosts",
    "checkpoint.json",
)


def _cmd_clean(args) -> int:
    import os
    import shutil

    removed = []
    for name in STORE_MEMBERS:
        p = os.path.join(args.workdir, name)
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(name)
        elif os.path.isfile(p):
            os.remove(p)
            removed.append(name)
    print(f"cleaned {args.workdir}: removed {removed or 'nothing'}")
    return 0


def _cmd_configcheck(args) -> int:
    from .config import validate

    errs = validate(_build_cfg(args))
    if errs:
        for e in errs:
            print(f"config error: {e}", file=sys.stderr)
        return 1
    print("config OK")
    return 0


def _copy_store(src: str, dst: str, what: str) -> int:
    import os
    import shutil

    if not any(
        os.path.exists(os.path.join(src, m)) for m in STORE_MEMBERS
    ):
        print(f"{what}: no crawl store at {src}", file=sys.stderr)
        return 1
    os.makedirs(dst, exist_ok=True)
    copied = []
    for name in STORE_MEMBERS:
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            if os.path.exists(d):
                shutil.rmtree(d)
            shutil.copytree(s, d)
            copied.append(name)
        elif os.path.isfile(s):
            shutil.copy2(s, d)
            copied.append(name)
    print(f"{what}: {src} -> {dst} ({copied})")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="crawlspark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("clean", help="wipe the workdir's crawl store")
    p.add_argument("--workdir", required=True)
    p = sub.add_parser(
        "storeexport", help="archive the crawl store (ledger + documents)"
    )
    p.add_argument("--workdir", required=True)
    p.add_argument("--out", required=True)
    p = sub.add_parser(
        "storeimport", help="restore an archived crawl store into a workdir"
    )
    p.add_argument("--workdir", required=True)
    p.add_argument("--from", dest="src", required=True)
    p = sub.add_parser(
        "import",
        help="standalone importer: parse a directory of files "
        "(detect type/charset, split archives, extract text) to parquet",
    )
    p.add_argument("--in", dest="src_dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--no-split-embedded",
        action="store_true",
        help="do not split archive members into child documents",
    )
    p.add_argument("--max-embedded-depth", type=int, default=-1)
    p.add_argument("--cores", default=None)
    p = sub.add_parser(
        "fscrawl",
        help="filesystem crawler (crawler-fs analog): BFS the roots, "
        "write the file ledger (+NEW/MODIFIED/UNMODIFIED/DELETED "
        "delta vs a previous ledger) to parquet",
    )
    p.add_argument("--root", action="append", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--baseline", help="previous fscrawl --out (incremental delta)"
    )
    p.add_argument("--max-depth", type=int, default=-1)
    p.add_argument("--include", action="append")
    p.add_argument("--exclude", action="append")
    p.add_argument(
        "--read-bytes",
        action="store_true",
        help="also load file content into a bytes column",
    )
    p.add_argument("--max-bytes", type=int, default=-1)
    p.add_argument("--cores", default=None)
    for name in ("crawl", "resume", "export", "configcheck"):
        p = sub.add_parser(name)
        p.add_argument("--workdir", required=True)
        p.add_argument("--pages", help="parquet fixture web (fetch join)")
        p.add_argument(
            "--site",
            help="synthetic site SEED:HOSTS:DEPTH:BRANCH[:FLAKY_PCT] — "
            "generator fetcher mode; honors --retries",
        )
        p.add_argument(
            "--http",
            action="store_true",
            help="fetch over real sockets (HttpClientFetcher analog); "
            "robots.txt fetched per seed host; honors --retries",
        )
        p.add_argument(
            "--render",
            metavar="PATTERN",
            help="with --http: route URLs matching this regex through "
            "a JS-rendering Playwright fetcher first (MultiFetcher "
            "chain, PlaywrightFetcher analog); 'all' renders every "
            "URL. Needs the playwright package on the executors.",
        )
        p.add_argument("--robots", help="parquet (host, body)")
        p.add_argument("--seeds", help="text file, one URL per line")
        p.add_argument("--seed", action="append")
        p.add_argument("--max-depth", type=int, default=-1)
        p.add_argument("--max-docs", type=int, default=None)
        p.add_argument("--delay-ms", type=int, default=3000)
        p.add_argument("--include", action="append")
        p.add_argument("--exclude", action="append")
        p.add_argument("--stay-on-domain", action="store_true")
        p.add_argument("--retries", type=int, default=0)
        p.add_argument("--cores", default=None)
        if name == "export":
            p.add_argument("--out", required=True)
            p.add_argument(
                "--format",
                choices=(
                    "parquet", "orc", "csv", "json", "xml", "warc",
                    "elasticsearch", "solr", "sql", "kafka",
                ),
                default="parquet",
            )
            p.add_argument(
                "--index",
                default="docs",
                help="index (elasticsearch) / topic (kafka) name",
            )
    args = ap.parse_args(argv)

    # store/admin commands are pure filesystem/validation ops — no
    # Spark session needed (the reference's CLI likewise runs them
    # without starting a crawler).
    if args.cmd == "clean":
        return _cmd_clean(args)
    if args.cmd == "configcheck":
        return _cmd_configcheck(args)
    if args.cmd == "storeexport":
        return _copy_store(args.workdir, args.out, "storeexport")
    if args.cmd == "storeimport":
        return _copy_store(args.src, args.workdir, "storeimport")

    if getattr(args, "retries", 0) and not getattr(args, "site", None):
        # retries live in the fetch slot (webgen.make_fetcher /
        # MultiFetcher.java:94-138); the pages-table join path has no
        # transient failures to retry — use --site for fetcher mode.
        print(
            "warning: --retries only applies in --site (fetcher) mode "
            "or when a fetcher is supplied programmatically; the "
            "--pages join path ignores it",
            file=sys.stderr,
        )

    from .session import get_spark

    spark = get_spark(f"crawlspark-{args.cmd}", cores=args.cores)
    if args.cmd == "import":
        from .functions.parsers import EmbeddedConfig, import_documents

        out_df = import_documents(
            spark,
            args.src_dir,
            split_archives=not args.no_split_embedded,
            cfg=EmbeddedConfig(max_embedded_depth=args.max_embedded_depth),
        )
        out_df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"imported {n} documents from {args.src_dir} to {args.out}")
        return 0
    if args.cmd == "fscrawl":
        from pyspark.sql import functions as F

        from .sources.fsfetch import (
            FsCrawlConfig,
            fs_crawl,
            fs_delta,
            fs_read_documents,
        )

        files = fs_crawl(
            spark,
            args.root,
            FsCrawlConfig(
                max_depth=args.max_depth,
                include_patterns=tuple(args.include or ()),
                exclude_patterns=tuple(args.exclude or ()),
            ),
        )
        baseline = (
            spark.read.parquet(args.baseline).select(
                "ref", "checksum", "outcome"
            )
            if args.baseline
            else None
        )
        out_df = fs_delta(files, baseline)
        if args.read_bytes:
            live = out_df.filter(F.col("outcome") != "DELETED")
            out_df = fs_read_documents(
                live, max_bytes=args.max_bytes
            ).unionByName(
                out_df.filter(F.col("outcome") == "DELETED").withColumn(
                    "bytes", F.lit(None).cast("binary")
                )
            )
        out_df.write.mode("overwrite").parquet(args.out)
        counts = {
            r["outcome"]: r["n"]
            for r in spark.read.parquet(args.out)
            .groupBy("outcome")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        print(f"fscrawl done: {counts} -> {args.out}")
        return 0
    if args.cmd == "crawl":
        eng = _engine(spark, args, resume=False)
        seeds = _read_seeds(args)
        if not seeds and getattr(args, "site", None):
            from .sources.webgen import seed_rows

            seeds = [r["url"] for r in seed_rows(_parse_site(args.site))]
        eng.bootstrap(seeds)
        stats = eng.run()
        print(
            f"crawl done: {sum(s.fetched for s in stats)} fetched, "
            f"{sum(s.committed for s in stats)} committed, "
            f"{len(stats)} supersteps"
        )
        eng.release()
    elif args.cmd == "resume":
        eng = _engine(spark, args, resume=True)
        stats = eng.run()
        print(
            f"resume done: {sum(s.fetched for s in stats)} fetched, "
            f"{sum(s.committed for s in stats)} committed"
        )
        eng.release()
    else:  # export
        from .plans.ledger import AppendTable
        from .plans.superstep import DOCS_SCHEMA
        from .sinks import committers as C

        import os

        ops = AppendTable(
            spark, os.path.join(args.workdir, "documents"), schema=DOCS_SCHEMA
        ).read()
        if args.format == "kafka":
            # --out is the bootstrap host:port, --index the topic
            from .sinks import kafka as K

            K.kafka_committer(
                ops,
                K.KafkaCommitterConfig(
                    bootstrap=args.out, topic=args.index
                ),
            )
        elif args.format == "sql":
            # --out is the database path/DSN for the SQL committer
            from .sinks import sql as S

            S.sql_committer(
                ops, S.SqlCommitterConfig(connection_url=args.out)
            )
        elif args.format in ("elasticsearch", "solr"):
            # --out is the server URL for the REST committers
            from .sinks import rest as R

            cfg = R.RestCommitterConfig(
                base_url=args.out, index=args.index
            )
            {
                "elasticsearch": R.es_bulk_committer,
                "solr": R.solr_committer,
            }[args.format](ops, cfg)
        else:
            sink = {
                "parquet": C.parquet_committer,
                "orc": C.orc_committer,
                "csv": C.csv_committer,
                "json": C.json_committer,
                "xml": C.xml_committer,
                "warc": C.warc_committer,
            }[args.format]
            sink(ops, args.out)
        print(f"exported resolved documents to {args.out} ({args.format})")
    # long-lived sessions (tests, notebooks, repeated CLI calls on one
    # JVM) must not accumulate operator-registered persisted frames
    from .operators.textops import release_caches

    release_caches()
    return 0


if __name__ == "__main__":
    sys.exit(main())
