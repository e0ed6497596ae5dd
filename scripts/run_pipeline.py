#!/usr/bin/env python
"""spark-submit entry point for the flagship pipeline.

    spark-submit --py-files gdal_spark.zip scripts/run_pipeline.py \
        --pages 1000000 --out /tmp/gdal_spark_out --shards 16

Runs: synth/ingest pages → geotag extract → z12 tile assign → resumable
sharded write of the enriched table with per-shard lineage manifests
(re-running skips committed shards) → lineage check of the committed table
against the source → :func:`gdal_spark.pages.flagship` over a scan of the
committed table, summed per polygon. Prints one metrics JSON line to
stdout, then exits nonzero if the committed text bytes differ from the
source's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--out", default="/tmp/gdal_spark_out")
    ap.add_argument("--shards", type=int, default=16)
    args = ap.parse_args()

    from gdal_spark.checkpoint import run_sharded
    from gdal_spark.fixtures import fixture_polyset
    from gdal_spark.lineage import assert_unchanged, global_fingerprint
    from gdal_spark.operators.spatial_join import assign_tiles
    from gdal_spark.pages import TILE_ZOOM, extract_geotags, flagship, synth_pages
    from gdal_spark.session import get_spark

    spark = get_spark("gdal_spark_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    pages = synth_pages(spark, args.pages)
    before = global_fingerprint(pages)

    # resumable sharded write of the enriched table (text bytes intact)
    summary = run_sharded(assign_tiles(extract_geotags(pages), TILE_ZOOM), args.out, args.shards)

    committed = spark.read.parquet(os.path.join(args.out, "data"))
    after = global_fingerprint(committed)
    counts = (
        flagship(committed, fixture_polyset())
        .groupBy("poly_id")
        .agg(F.sum("n_pages").alias("n_pages"))
        .collect()
    )

    print(
        json.dumps(
            {
                "pages": args.pages,
                "elapsed_sec": round(time.time() - t0, 2),
                "shards_ran": summary["ran"],
                "shards_skipped": summary["skipped"],
                "rows_written": summary["rows_written"],
                "lineage_ok": before == after,
                "poly_counts": {int(r.poly_id): int(r.n_pages) for r in counts},
            }
        )
    )
    assert_unchanged(before, after, "sharded commit")


if __name__ == "__main__":
    main()
