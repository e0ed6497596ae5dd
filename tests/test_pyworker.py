"""Python workers do not re-read unchanged zip archives on every task
(``gdal_spark.pyworker``), and still re-read an archive that changed."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import gdal_spark  # noqa: F401  (installs the worker hook)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TWO_TASKS = """
import json, sys, zipimport
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from gdal_spark import tiling
from gdal_spark.session import get_spark


@F.pandas_udf(LongType())
def zip_reads(x: pd.Series) -> pd.Series:
    # reads of the worker's sys.path archives since the worker's last task;
    # -1 in the first task, which starts counting
    assert tiling.WORLD_SPAN > 0  # the closure refers to the engine, as the PIP refine's does
    reads = getattr(zipimport, "_reads_seen", None)
    if reads is None:
        reads = zipimport._reads_seen = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        n = -1
    else:
        n = sum(path in sys.path for path in reads)
    reads.clear()
    return pd.Series([n] * len(x))


spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(0, 2, 1, 2).select("id", zip_reads("id").alias("n")).orderBy("id").collect()
print(json.dumps([r.n for r in rows]))
spark.stop()
"""


def test_second_udf_task_rereads_no_archive():
    """Two tasks of one pandas UDF on one reused worker: the second task's
    set-up (PySpark's ``importlib.invalidate_caches()``) reads no archive."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_TASKS], cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [-1, 0]


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its cached directory; a rewritten one is
    read again and its new module code loads."""
    archive = str(tmp_path / "probe.zip")

    def write(value):
        new = tmp_path / "new.zip"
        with zipfile.ZipFile(new, "w") as z:
            z.writestr("zip_probe_mod.py", f"VALUE = {value!r}\n")
        os.replace(new, archive)

    write(1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zip_probe_mod", raising=False)
    try:
        assert importlib.import_module("zip_probe_mod").VALUE == 1
        importlib.invalidate_caches()  # the first call after the importer opened the archive reads it
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
        importlib.invalidate_caches()
        assert archive not in reads

        write("rewritten")
        importlib.invalidate_caches()
        del sys.modules["zip_probe_mod"]
        assert importlib.import_module("zip_probe_mod").VALUE == "rewritten"
    finally:
        sys.modules.pop("zip_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
