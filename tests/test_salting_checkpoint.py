"""Salted joins (skew fallback) and checkpoint/resume machinery."""
import functools
import json
import operator
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from gdal_spark.checkpoint import manifest_path, pending_shards, run_sharded, shard_of, verify_manifests
from gdal_spark.lineage import global_fingerprint
from gdal_spark.operators.salting import salted_join, salted_join_hot_keys, top_hot_keys
from gdal_spark.pages import synth_pages


@pytest.fixture(scope="module")
def skewed(spark):
    # fact: 5000 rows, 60% on cell 7
    rng = np.random.default_rng(3)
    cells = np.where(rng.random(5000) < 0.6, 7, rng.integers(0, 50, 5000))
    fact = spark.createDataFrame(
        pd.DataFrame({"cell": cells, "fid": np.arange(5000)})
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"cell": np.arange(50), "poly": np.arange(50) + 100})
    )
    return fact, dim


def test_salted_join_matches_plain(spark, skewed):
    fact, dim = skewed
    plain = fact.join(dim, "cell").select("fid", "poly")
    salted = salted_join(fact, dim, ["cell"], n_salt=8).select("fid", "poly")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_hot_keys_matches_plain(spark, skewed):
    fact, dim = skewed
    hot = top_hot_keys(fact, ["cell"], top_n=3)
    plain = fact.join(dim, "cell").select("fid", "poly")
    salted = salted_join_hot_keys(fact, dim, ["cell"], hot, n_salt=8).select("fid", "poly")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_checkpoint_run_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 400)
    s1 = run_sharded(pages, root, n_shards=4)
    assert s1 == {"ran": 4, "skipped": 0, "rows_written": 400}
    assert pending_shards(root, 4) == []
    assert verify_manifests(spark, root, 4)
    # resume: nothing to do
    s2 = run_sharded(pages, root, n_shards=4)
    assert s2 == {"ran": 0, "skipped": 4, "rows_written": 0}
    # simulate a lost shard → only that one re-runs
    os.remove(manifest_path(root, 2))
    s3 = run_sharded(pages, root, n_shards=4)
    assert s3["ran"] == 1 and s3["skipped"] == 3
    assert verify_manifests(spark, root, 4)
    # manifests carry lineage fingerprints
    with open(manifest_path(root, 0)) as f:
        m = json.load(f)
    assert m["row_count"] > 0 and "xxh64_xor" in m


def test_checkpoint_total_rows_partition_invariant(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    pages = synth_pages(spark, 300, partitions=7)
    run_sharded(pages, root, n_shards=3)
    total = sum(
        json.load(open(manifest_path(root, s)))["row_count"] for s in range(3)
    )
    assert total == 300


def _manifest(root, shard):
    with open(manifest_path(root, shard)) as f:
        return json.load(f)


def _shard_lineage(root, n_shards):
    return [(m["row_count"], m["xxh64_xor"]) for m in (_manifest(root, s) for s in range(n_shards))]


def test_run_sharded_resumes_after_mid_commit_crash(spark, tmp_path):
    """A commit that dies partway resumes from its manifests. A UDF that
    raises on one url of shard 2 (of 4) stops run_sharded after shards 0
    and 1 have committed; the clean re-run writes only shards 2 and 3, and
    the root ends with the lineage of an uninterrupted run."""
    pages = synth_pages(spark, 400)
    root, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    marker = pages.filter(shard_of(F.col("url"), 4) == 2).orderBy("url").first()["url"]

    @F.udf("boolean")
    def fail_on_marker(url):
        if url == marker:
            raise RuntimeError(f"injected failure at {url}")
        return True

    with pytest.raises(PythonException, match="injected failure"):
        run_sharded(pages.filter(fail_on_marker("url")), root, n_shards=4)
    assert pending_shards(root, 4) == [2, 3]
    before = [_manifest(root, s) for s in (0, 1)]

    resumed = run_sharded(pages, root, n_shards=4)
    run_sharded(pages, clean, n_shards=4)
    assert resumed["ran"] == 2 and resumed["skipped"] == 2
    assert resumed["rows_written"] == sum(_manifest(clean, s)["row_count"] for s in (2, 3))
    assert [_manifest(root, s) for s in (0, 1)] == before  # not rewritten
    shards = _shard_lineage(root, 4)
    assert shards == _shard_lineage(clean, 4)
    n, x = global_fingerprint(pages)
    assert global_fingerprint(spark.read.parquet(os.path.join(root, "data"))) == (n, x)
    # the per-shard fingerprints add up to the whole table's
    assert sum(c for c, _ in shards) == n and functools.reduce(operator.xor, (h for _, h in shards)) == x
    assert verify_manifests(spark, root, 4)


def test_root_refuses_another_shard_count(spark, tmp_path):
    """Shard ids mean different rows under another shard count, so a root
    is resumed and verified only under the count it was committed with:
    an 8-shard commit that stopped after shards 0-2 is not complete to a
    4-shard resume, and neither is a manifest that records no count."""
    root = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 200)
    run_sharded(pages, root, n_shards=8)
    for s in range(3, 8):
        os.remove(manifest_path(root, s))
    with pytest.raises(ValueError, match=r"n_shards=8.*n_shards=4"):
        run_sharded(pages, root, n_shards=4)
    with pytest.raises(ValueError, match=r"n_shards=8.*n_shards=4"):
        verify_manifests(spark, root, 4)
    assert run_sharded(pages, root, n_shards=8)["ran"] == 5
    assert verify_manifests(spark, root, 8)

    m = _manifest(root, 5)
    del m["n_shards"]
    with open(manifest_path(root, 5), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match=r"n_shards=None.*n_shards=8"):
        run_sharded(pages, root, n_shards=8)
    with pytest.raises(ValueError, match=r"n_shards=None.*n_shards=8"):
        verify_manifests(spark, root, 8)


def test_salted_join_rejects_right_full(spark):
    import pytest
    from gdal_spark.operators.salting import salted_join

    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], how="right")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], how="full")


def test_salted_join_salt_deterministic_and_spread(spark):
    """Salt derives from row content (stable across re-runs) and spreads
    a hot key across buckets."""
    from pyspark.sql import functions as F
    from gdal_spark.operators.salting import salted_join

    fact = spark.range(1000).select(F.lit(7).alias("k"), F.col("id").alias("payload"))
    dim = spark.createDataFrame([(7, "x")], "k INT, v STRING")
    out = salted_join(fact, dim, on=["k"], n_salt=8)
    assert out.count() == 1000
    # same content → same salt: re-running the plan yields identical rows
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in out.collect())
    assert a == b
