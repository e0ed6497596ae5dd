"""The gate registry's own housekeeping (``__spark_entry__``)."""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN_TWO_GATES = """
import sys
import __spark_entry__
from gdal_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
q = __spark_entry__.queries()
for name in ("geojson_roundtrip", "osm_pbf_ways"):
    assert q[name](spark, sys.argv[1]).collect(), name
spark.stop()
"""


def test_gate_scratch_dirs_are_removed_at_exit(tmp_path, sf_dir):
    """Gates that write files put them under one per-process root, which
    the process removes when it exits: nothing is left in its TMPDIR."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RUN_TWO_GATES, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert sorted(os.listdir(tmp)) == []
