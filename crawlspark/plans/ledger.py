"""Append-only parquet tables (Iceberg-style, zero-dependency).

The reference keeps crawl state in mutable KV stores (MVStore /
Hazelcast CacheMaps, crawler/core/.../ledger/CrawlerEntryLedger.java).
We invert that into immutable parts: every level appends one part per
table (ledger level, documents, sitemap trigger hosts), and the
engine's JSON manifest is swapped after them, which gives us

* atomic per-level commits (write the parts, then swap the manifest);
* exact resume: a killed run drops the parts written after the last
  manifest and replays from it with identical inputs (requeue
  semantics analog of CrawlerEntryLedger.java:206-241,487-511);
* the ledger_a/ledger_b baseline flip of CrawlerEntryLedger.java:
  619-658 becomes "read last run's level parts" (``load_baseline``).

On a cluster with a catalog this class is swapped for Iceberg
(``df.writeTo(table).append()``); the engine only uses
``append``/``read``/``read_part``/``parts``/``truncate_after``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class AppendTable:
    """Append-only parquet table (ledger levels / documents / sitemap trigger hosts).

    An explicit ``schema`` makes empty parts and the no-parts case read
    back as an empty DataFrame instead of failing schema inference —
    required for the ledger, whose per-superstep parts may legally hold
    zero rows of a given status.
    """

    def __init__(self, spark: SparkSession, path: str, schema=None):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def _reader(self):
        r = self.spark.read
        return r.schema(self.schema) if self.schema is not None else r

    def append(self, df: DataFrame, part: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"part-{part}"))

    def parts(self) -> list[str]:
        return sorted(d for d in os.listdir(self.path) if d.startswith("part-"))

    def read(self) -> DataFrame | None:
        parts = [os.path.join(self.path, d) for d in self.parts()]
        if not parts:
            if self.schema is not None:
                return self.spark.createDataFrame([], self.schema)
            return None
        return self._reader().parquet(*parts)

    def read_part(self, part: str) -> DataFrame:
        return self._reader().parquet(os.path.join(self.path, f"part-{part}"))

    def truncate_after(self, part: str) -> None:
        """Resume support: drop parts written after a checkpoint."""
        for d in os.listdir(self.path):
            if d.startswith("part-") and d[5:] > part:
                shutil.rmtree(os.path.join(self.path, d))
