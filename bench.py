#!/usr/bin/env python
"""Headline benchmark: flagship pipeline throughput (rows/sec) plus
per-query timings over $SPARK_GRAFT_SF_DIR (default sf0.1).

The headline mirrors BASELINE.json: rows/sec of :func:`gdal_spark.pages.flagship`
(pages parquet scan → geotag extract → z12 tile assign → cell-cover PIP
join → Arrow ray-cast refine → counts per polygon and tile). The pages are
synthesized and written to parquet once, outside the timing, so each rep
times the scan-fed pipeline through to collect.

Prints ONE short JSON line (metric, value, unit, elapsed_sec, pages, cpus,
detail); the per-query times and every rep array go to the ``detail``
file, BENCH_detail.json beside this script. Scaling efficiency between two
parallelism levels is measured by scripts/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def flagship_rows_sec(spark, n_pages: int, reps: int) -> list[tuple[float, float]]:
    """Write ``n_pages`` synth pages to a temp parquet, run the flagship
    over a scan of it once untimed, then ``reps`` timed runs through to
    collect; returns (rows/sec, elapsed) per timed run."""
    from gdal_spark.fixtures import fixture_polyset
    from gdal_spark.pages import flagship, synth_pages

    ps = fixture_polyset()
    src = tempfile.mkdtemp(prefix="flagship_pages_")
    try:
        synth_pages(spark, n_pages).write.mode("overwrite").parquet(src)

        def run() -> float:
            t0 = time.time()
            n_out = sum(r.n_pages for r in flagship(spark.read.parquet(src), ps).collect())
            el = time.time() - t0
            assert n_out > 0
            return el

        run()  # warm-up: first scan of the files, Python workers
        return [(n_pages / el, el) for el in (run() for _ in range(reps))]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def ann_synth_secs(spark, dim: int, n: int = 10000, n_queries: int = 25) -> float:
    """LSH ANN wall time on a deterministic synthetic clustered corpus of
    ``n`` vectors at ``dim`` dims (16 planes, arrow scoring). Run at both
    64 and 768 dims to evidence VERDICT r2 item 7: realistic-dim buckets
    must stay within ~2× of toy-dim time (plan size O(1) in dim via the
    Arrow bucket path, scoring vectorized)."""
    import numpy as np

    from gdal_spark.operators.similarity import lsh_bucketed_topk

    n_centers = 256

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            out = []
            for i in ids:
                # per-id seeds → partition-invariant determinism
                center = np.random.default_rng(int(i) % n_centers).standard_normal(dim)
                noise = np.random.default_rng(n_centers + int(i)).standard_normal(dim)
                out.append((center + 0.2 * noise).tolist())
            yield pd.DataFrame({"vec_id": ids, "embedding": out})

    corpus = (
        spark.range(0, n, 1, 32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
        .persist()
    )
    corpus.count()  # materialize: time the ANN operator, not the synth gen
    queries = corpus.filter(F.col("vec_id") < n_queries).withColumnRenamed("vec_id", "qid")
    try:
        t0 = time.time()
        res = lsh_bucketed_topk(
            queries, corpus, k=5, n_planes=16, probe_flips=1, dim=dim, score="arrow"
        )
        res.write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        corpus.unpersist()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "2000000"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])

    from gdal_spark.session import get_spark

    spark = get_spark(
        "gdal_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # warm the JVM and the Python worker pool once (a real cluster pays
    # this at executor startup, not per query)
    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, 4096, 1, int(cpus)).select(F.sum(_warm("id"))).collect()

    qtimes = {}
    bench_queries = [
        "tile_assign_z8",
        "pip_polygon_counts",
        "pip_join_rows",
        "knn_cell_join",
        "groupby_pricing_summary",
        "window_rank_orders",
        "dedup_exact",
        "dedup_ngram_jaccard_capped",  # the max_df scale path (default)
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine_lsh",  # bucketed scale path
        "ann_cosine_topk",
        "ann_knn_cosine_join",
        "ann_lsh_bucketed",
        "ann_ivf_topk",
        "lang_id_counts",
        "doc_fingerprint",
        "quality_filter_verdicts",
        "dedup_lines_ccnet",
        "decontaminate_benchmark",
        "vocab_topk",
        "tfidf_top_terms",
        "raster_checksum_synth",
        "raster_overview_checksum",
    ]
    qs = entrymod.queries()
    # INTERLEAVED rep rounds (VERDICT r3 next-10): the sandbox VM
    # time-shares vCPUs, so a noise burst must hit one ROUND, not one
    # query. Per query we report the best rep plus the full rep array.
    qreps = int(os.environ.get("SPARK_GRAFT_BENCH_QREPS", "3"))
    qobs: dict[str, list[float]] = {name: [] for name in bench_queries}
    qobs["ann_lsh_dim64_synth"] = []
    qobs["ann_lsh_dim768_synth"] = []
    for _ in range(qreps):
        for name in bench_queries:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            qobs[name].append(round(time.time() - t0, 3))
        qobs["ann_lsh_dim64_synth"].append(round(ann_synth_secs(spark, 64), 3))
        qobs["ann_lsh_dim768_synth"].append(round(ann_synth_secs(spark, 768), 3))
    for name, arr in qobs.items():
        qtimes[name] = min(arr)

    # the sandbox VM time-shares its vCPUs with other guests: identical
    # runs vary several-fold, so report the best of N reps (the
    # contention-free capacity), plus all observations for transparency
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    obs = flagship_rows_sec(spark, n_pages, reps)
    rps, el = max(obs, key=lambda t: t[0])
    qtimes["flagship_pages_pip"] = round(el, 3)

    detail = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_detail.json")
    with open(detail, "w") as f:
        json.dump(
            {"all_reps_sec": [round(e, 3) for _, e in obs], "queries": qtimes, "query_reps": qobs, "sf": sf},
            f,
            indent=1,
        )
    print(
        json.dumps(
            {
                "metric": "flagship scan-fed pages->tiles->PIP throughput",
                "value": round(rps, 1),
                "unit": "rows/sec",
                "elapsed_sec": round(el, 3),
                "pages": n_pages,
                "cpus": int(cpus),
                "detail": detail,
            }
        )
    )


if __name__ == "__main__":
    main()
