"""Snapshot/checkpoint resumability for long batch jobs.

The north rule requires resumable jobs with per-partition lineage +
metrics. The reference has no such machinery (single-process batch); the
Spark-native design:

- work is split into deterministic **shards** (e.g. id-range buckets of
  the pages table — at Iceberg deployment these are snapshot partitions);
- each shard's output writes to ``<root>/data/shard=<k>/`` followed by a
  **manifest** ``<root>/manifests/shard-<k>.json`` holding the shard
  count, the shard's row count + xxhash64-xor lineage fingerprint
  (:func:`gdal_spark.lineage.global_fingerprint`) and timing metrics —
  the manifest write is the commit point;
- on restart, :func:`pending_shards` lists shards without manifests and
  the driver re-runs only those; a half-written shard without a manifest
  is overwritten (writes are idempotent per shard directory). A root is
  resumed and verified only under the shard count it was committed with.

This is exactly Iceberg's snapshot+commit contract realized on plain
parquet directories (no Iceberg runtime jar is needed); swapping the
per-shard ``write.parquet`` for ``writeTo(...).append()`` + snapshot IDs
is a one-line change.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.lineage import global_fingerprint


def shard_of(id_col, n_shards: int):
    return F.pmod(F.xxhash64(id_col), F.lit(n_shards)).cast("int")


def manifest_path(root: str, shard: int) -> str:
    return os.path.join(root, "manifests", f"shard-{shard}.json")


def _committed(root: str, n_shards: int) -> dict[int, dict]:
    """Every manifest under ``root`` by shard. Raises ``ValueError`` if one
    was committed under another shard count (or records none): its shard
    ids would name different rows, and reading it as done would leave
    rows out."""
    out = {}
    for path in glob.glob(os.path.join(root, "manifests", "shard-*.json")):
        with open(path) as f:
            m = json.load(f)
        if m.get("n_shards") != n_shards:
            raise ValueError(
                f"{path} was committed with n_shards={m.get('n_shards')!r}, "
                f"but this call has n_shards={n_shards}"
            )
        out[m["shard"]] = m
    return out


def pending_shards(root: str, n_shards: int) -> list[int]:
    done = _committed(root, n_shards)
    return [s for s in range(n_shards) if s not in done]


def run_sharded(df: DataFrame, root: str, n_shards: int) -> dict:
    """Write df sharded on ``url`` with per-shard lineage manifests;
    resumable under the same ``n_shards``.

    Returns a summary dict (shards run, shards skipped, total rows).
    """
    os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
    todo = pending_shards(root, n_shards)
    skipped = n_shards - len(todo)
    total_rows = 0
    sharded = df.withColumn("__shard", shard_of(F.col("url"), n_shards))
    for s in todo:
        t0 = time.time()
        part = sharded.filter(F.col("__shard") == s).drop("__shard")
        out_dir = os.path.join(root, "data", f"shard={s}")
        part.write.mode("overwrite").parquet(out_dir)
        # fingerprint what was written (read back = what downstream sees);
        # the known schema spares the read its schema-inference job
        n, x = global_fingerprint(part.sparkSession.read.schema(part.schema).parquet(out_dir))
        manifest = {
            "shard": s,
            "n_shards": n_shards,
            "row_count": n,
            "xxh64_xor": x,
            "elapsed_sec": round(time.time() - t0, 3),
            "committed_at": time.time(),
        }
        tmp = manifest_path(root, s) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path(root, s))  # atomic commit point
        total_rows += n
    return {"ran": len(todo), "skipped": skipped, "rows_written": total_rows}


def verify_manifests(spark: SparkSession, root: str, n_shards: int) -> bool:
    """Re-hash every committed shard and compare to its manifest."""
    done = _committed(root, n_shards)
    for s in range(n_shards):
        if s not in done:
            return False
        back = spark.read.parquet(os.path.join(root, "data", f"shard={s}"))
        if global_fingerprint(back) != (done[s]["row_count"], done[s]["xxh64_xor"]):
            return False
    return True
