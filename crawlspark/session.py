"""SparkSession factory tuned for the crawl workload.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting for hot hosts), Arrow
on (every custom operator is a pandas/Arrow UDF), shuffle partitions
sized to cores rather than the 200 default.

Python workers are forked from ``crawlspark._pydaemon`` instead of
``pyspark.daemon``. PySpark's worker calls ``importlib.invalidate_caches()``
at the start of every task, and before CPython 3.12 (gh-103200) each zip
importer then eagerly re-reads its archive's central directory: about 27k
entries of ``pyspark.zip``, the py4j zip and the spark-core jar per task,
most of a warm small-batch Python task's time. The daemon re-reads an
archive only when its mtime or size changed; on Python >= 3.12 it is
plain ``pyspark.daemon``. Workers must be able to import ``crawlspark``,
as the crawl's own UDFs already require, so the package root is put
first on their ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, merged
with the inherited one): a driver that finds the package only through
``sys.path`` works from any working directory.

PySpark's DataFrame origin capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on,
every DataFrame or Column API call walks the Python stack and makes
4-5 extra py4j round trips, and each call retries a failing
``import IPython`` across ``sys.path``; a superstep makes thousands of
such calls. The cost of turning it off: DataFrame error contexts lack
the Python call site. Pass the key as ``"true"`` in ``extra_conf`` to
get it back while debugging.

Every generated Java class compiles once per session. Spark compiles
its whole-stage and expression code with Janino (about 15 ms per class,
plus the JIT work on each new class) and keeps the compiled classes in
an LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by
default. One crawl needs 134-138 distinct classes on the perfbench
shapes and 185 on a 49-URL fixture crawl, so at 100 entries the LRU
evicted each class before its next use and every superstep recompiled
about 100 of them (387-419 compiles per ``crawl-deep`` crawl, repeat
crawls of a session included). The cache holds 1000 entries, about 5x
the measured working set. Whole-stage class names also embed the
codegen stage id (``GeneratedIteratorForCodegenStageN``), so the same
pipeline at a shifted position in a plan was a new source and missed
the cache; ``spark.sql.codegen.useIdInClassName`` is off. With both, the
first ``crawl-deep`` crawl of a session (seed 42, after perfbench's
warm-up) compiles 147 classes and a repeat crawl 0, against 387, 419
and 418 with the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _sweep_stale_scratch(local_dir: str, max_age_s: int = 6 * 3600) -> None:
    """Best-effort removal of scratch left by KILLED JVMs. A clean
    shutdown deletes its own spark-*/blockmgr-* subdirs via Spark's
    shutdown hook; on tmpfs a leaked one is leaked RAM, so sweep
    entries old enough (6h) that no live session on this box can own
    them."""
    import shutil
    import time

    try:
        now = time.time()
        for name in os.listdir(local_dir):
            p = os.path.join(local_dir, name)
            try:
                if now - os.path.getmtime(p) > max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def _default_driver_mem() -> str:
    """Half of physical memory in whole GiB, clamped to [1g, 48g]."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys // 2 // 2**30))}g"


def _worker_pythonpath() -> str:
    """The ``crawlspark`` package root, then the inherited
    ``PYTHONPATH`` entries."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return os.pathsep.join(dict.fromkeys([root, *filter(None, inherited)]))


def get_spark(
    app_name: str = "crawlspark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (-> local[N]) or a master string. On a real
    cluster this function is bypassed by spark-submit's own session; all
    configs here are safe to set cluster-side too.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and not str(cores).isdigit() else None
    if master is None:
        master = f"local[{cores}]"
    if not master.startswith("local") and "://" not in master:
        master = f"local[{master}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ledger/frontier rows are ~60-100B; at the default 128 MiB a
        # half-million-row frontier scan (and the politeness shuffle
        # map fed by it) collapses into ONE task. 8 MiB keeps slim
        # scans parallel while leaving wide binary tables reasonable.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        # single-node: every task is process-local; don't let the
        # scheduler hold slots waiting for locality on cached blocks
        .config("spark.locality.wait", "0s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # BypassMergeSortShuffleWriter opens one TEMP FILE PER REDUCER
        # per map task whenever partitions < the 200 default — at 32
        # shuffle partitions x thousands of sub-second tasks that is
        # ~200k file create/delete syscalls per crawl, and jstack +
        # /proc kernel-stack sampling showed 27/32 task threads inside
        # FileOutputStream.open0 with 26-41% of the whole box in
        # SYSTEM time (directory-inode serialization). Forcing the
        # sort-based writer (one data + one index file per map task)
        # cut the sf0.1 crawl 102s -> 70s median at local[32]. The
        # same storm hits any many-core executor on one disk, so this
        # is a cluster-appropriate default for small-partition-count
        # shuffles, not a local-mode hack.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_THRESHOLD", "2"),
        )
        # the superstep plan carries hundreds of predicates/projections;
        # constraint propagation is quadratic in them and costs ~3s of
        # driver-side optimization PER ACTION (~2x the whole driver
        # floor of a small crawl, measured) while enabling no useful
        # pruning here — the heavy frames are filtered through explicit
        # columns, not inferable constraints
        .config("spark.sql.constraintPropagation.enabled", "false")
        # fork Python workers from a daemon that re-reads zip archives
        # only when they change (see the module docstring)
        .config("spark.python.daemon.module", "crawlspark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        # no per-call origin capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # compile each generated class once per session (see the
        # module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # LOCAL MODE ONLY: put shuffle/spill scratch on tmpfs. Even with
    # the sort-based writer, shuffle index/data creates + renames on
    # ext4 serialize in the kernel (measured: tmpfs took the sf0.1
    # local[32] crawl 86s -> 77s on top of the writer fix). On a real
    # cluster spark.local.dir comes from the cluster manager and
    # shuffle data can exceed RAM, so this default never applies
    # there. Override with SPARK_GRAFT_LOCAL_DIR (or extra_conf).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (
        local_dir is None
        and master.startswith("local")
        and "spark.local.dir" not in (extra_conf or {})
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        local_dir = "/dev/shm/crawlspark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        _sweep_stale_scratch(local_dir)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
