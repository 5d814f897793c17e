"""crawlspark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch, Spark-first rebuild of the crawl semantics of
Norconex/crawlers (crawler-core + crawler-web at /root/reference):
canonicalization, URL-seen ledger, per-host politeness, robots.txt,
sitemaps, link extraction, redirect/canonical handling, incremental
dedup, and an image+caption document sink — expressed as DataFrame
dataflow over append-only parquet tables (Iceberg-style), with
vectorized pandas/Arrow UDFs for the pure-Python parts.

Not a port: the reference is a threaded KV-store engine; this is a
driver-side BFS superstep loop over declarative DataFrame plans.
"""

__version__ = "0.1.0"
