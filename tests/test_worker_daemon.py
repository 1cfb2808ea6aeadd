"""The engine's Python worker daemon: the stat-gated zip-cache rule, the
named error for a worker without numpy or pyarrow, and the workers' import
path from a driver outside the checkout."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from torcharrow_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 repopulates zip caches lazily; no rule is installed",
)
def test_zip_rule_rereads_only_changed_archives(tmp_path, monkeypatch):
    """invalidate_caches() leaves an unchanged archive alone and re-reads
    one whose size or mtime changed, so a module added to it imports."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zip_rule_a.py", "A = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("zip_rule_a", "zip_rule_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(str(archive))

    import zip_rule_a

    assert isinstance(zip_rule_a.__loader__, zipimport.zipimporter)
    worker_daemon.install_zip_rule()
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read(path))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zip_rule_b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert [os.path.basename(p) for p in reads] == ["mods.zip"]

    import zip_rule_b

    assert zip_rule_b.B == 2


def test_get_session_workers_run_zip_rule(spark):
    """A pandas_udf under get_session runs in a worker forked from the
    engine's daemon: the rule is installed there, on CPython < 3.12 only."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def rule_installed(s: pd.Series) -> pd.Series:
        import zipimport

        gated = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        return pd.Series([gated] * len(s))

    rows = spark.range(4, numPartitions=2).select(rule_installed("id")).collect()
    assert [r[0] for r in rows] == [sys.version_info < (3, 12)] * 4


def test_daemon_names_missing_worker_module():
    """A worker Python without pyarrow exits before serving, naming the
    module and the interpreter; Spark copies that line into the driver's
    SparkException."""
    code = (
        "import runpy, sys; sys.modules['pyarrow'] = None; "
        "runpy.run_module('torcharrow_spark.worker_daemon', run_name='__main__')"
    )
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert "'pyarrow'" in r.stderr and sys.executable in r.stderr


_OUTSIDE_PROBE = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
import torcharrow_spark as ts

spark = ts.get_session("outside-checkout")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
spark.stop()
"""


def test_pandas_udf_from_cwd_outside_checkout(tmp_path):
    """A driver that finds the engine through its own sys.path, run from
    outside the checkout with PYTHONPATH unset: the workers still import
    the daemon, because get_session puts the package root on their path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g",
               SPARK_LOCAL_DIRS=str(tmp_path))
    r = subprocess.run([sys.executable, "-c", _OUTSIDE_PROBE.format(repo=REPO)],
                       cwd="/tmp", env=env, capture_output=True, text=True,
                       timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
