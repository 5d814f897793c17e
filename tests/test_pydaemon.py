"""The Python worker daemon (crawlspark._pydaemon): zip archives are
re-read on ``importlib.invalidate_caches()`` only when they changed, and
the session's workers really run under it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from crawlspark import _pydaemon

PATCHED = sys.version_info < (3, 12)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, ["pyd_mod_a"])
    if PATCHED:
        monkeypatch.setattr(
            zipimport.zipimporter,
            "invalidate_caches",
            _pydaemon._invalidate_caches,
        )
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or real_read(path),
    )
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("pyd_mod_a").NAME == "pyd_mod_a"
        importlib.invalidate_caches()  # first call records the stamp
        reads.clear()
        importlib.invalidate_caches()
        if PATCHED:
            assert reads == []  # unchanged archive: no directory re-read

        _write_zip(arc, ["pyd_mod_a", "pyd_mod_b"])
        importlib.invalidate_caches()
        assert importlib.import_module("pyd_mod_b").NAME == "pyd_mod_b"
        assert arc in reads
    finally:
        for name in ("pyd_mod_a", "pyd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)


@pytest.mark.skipif(not PATCHED, reason="Python >= 3.12 re-reads lazily")
def test_python_workers_run_under_the_daemon(spark):
    """A pandas UDF reports the ``invalidate_caches`` its worker runs:
    the patched one, so the session's ``spark.python.daemon.module`` was
    not silently ignored in favour of ``pyspark.daemon``."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def invalidate_module(s: pd.Series) -> pd.Series:
        import zipimport

        mod = zipimport.zipimporter.invalidate_caches.__module__
        return s.map(lambda _: mod)

    got = {
        r[0]
        for r in spark.range(4)
        .select(invalidate_module(F.col("id").cast("string")))
        .collect()
    }
    assert got == {_pydaemon._invalidate_caches.__module__}


_WORKER_PATH_DRIVER = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from crawlspark.session import get_spark

spark = get_spark("worker-path", cores=1, shuffle_partitions=1)

@F.pandas_udf("string")
def package_file(s: pd.Series) -> pd.Series:
    import crawlspark

    return s.map(lambda _: crawlspark.__file__)

print("GOT", spark.range(2).select(package_file(F.lit("x"))).first()[0])
spark.stop()
"""


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A driver that finds ``crawlspark`` only through ``sys.path``,
    started from another directory with no ``PYTHONPATH``, still runs a
    pandas UDF that imports the package: ``get_spark`` puts the package
    root on the workers' path, so the worker daemon and the pickled
    UDFs import it."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(_WORKER_PATH_DRIVER.format(root=root))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = [ln for ln in proc.stdout.splitlines() if ln.startswith("GOT ")]
    assert got == [f"GOT {os.path.join(root, 'crawlspark', '__init__.py')}"]
