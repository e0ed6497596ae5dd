"""Pages synthesis, geotag extraction round-trip, lineage manifests, and
the flagship pipeline against an engine-free oracle."""
import json
import os
import re
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import tiling
from gdal_spark.fixtures import fixture_polyset
from gdal_spark.lineage import assert_unchanged, global_fingerprint
from gdal_spark.operators.spatial_join import assign_tiles, pip_counts
from gdal_spark.pages import extract_geotags, flagship, synth_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# written out here, not imported from gdal_spark.pages, so a slip in the
# engine's pattern shows up as a mismatch
GEO_TAG = re.compile(r'<meta name="geo\.position" content="(-?\d+\.\d+);(-?\d+\.\d+)"')


def test_synth_pages_schema_and_determinism(spark):
    df = synth_pages(spark, 500)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
    }
    a = df.select(F.xxhash64("url", "html", "text", "lang").alias("h")).agg(
        F.sum("h")
    ).collect()[0][0]
    b = synth_pages(spark, 500).select(
        F.xxhash64("url", "html", "text", "lang").alias("h")
    ).agg(F.sum("h")).collect()[0][0]
    assert a == b


def test_geotag_extraction_roundtrip(spark):
    """lon/lat parsed from html equal the synthesized micro-degree values."""
    df = extract_geotags(synth_pages(spark, 300))
    rows = df.select("lon", "lat").collect()
    assert all(r.lon is not None and r.lat is not None for r in rows)
    assert all(-180 <= r.lon < 180 and -84 <= r.lat < 84 for r in rows)
    # 6-decimal round trip: value * 1e6 is integral
    for r in rows[:50]:
        assert abs(r.lon * 1e6 - round(r.lon * 1e6)) < 1e-3
        assert abs(r.lat * 1e6 - round(r.lat * 1e6)) < 1e-3


def test_geotag_missing_is_null(spark):
    df = spark.createDataFrame(
        [("u1", bytearray(b"<html>no geo</html>"))], "url STRING, html BINARY"
    )
    r = extract_geotags(df).collect()[0]
    assert r.lon is None and r.lat is None


def test_lineage_byte_identity_through_pipeline(spark):
    pages = synth_pages(spark, 400)
    before = global_fingerprint(pages)
    tagged = extract_geotags(pages)
    tiled = assign_tiles(tagged, zoom=9)
    after = global_fingerprint(tiled)
    assert_unchanged(before, after, "tile-assign")
    assert before[0] == 400


def test_skew_variant_hotspot(spark):
    df = extract_geotags(synth_pages(spark, 2000, skew_hot_fraction=0.3))
    z = 7
    t = assign_tiles(df, zoom=z)
    top = (
        t.groupBy("tile_x", "tile_y").count().orderBy(F.col("count").desc()).limit(1).collect()[0]
    )
    assert top["count"] > 2000 * 0.2  # hot cell holds ≥20% of rows


def test_skew_variant_non_hot_rows_match_plain(spark):
    """The skew variant moves only its hot rows: every other row hashes
    byte-identical to the plain row with the same id (url carries the id)."""
    h = F.xxhash64("url", "html", "text", "lang")
    plain = synth_pages(spark, 2000).select("url", h.alias("h_plain"))
    skew = extract_geotags(synth_pages(spark, 2000, skew_hot_fraction=0.3))
    hot = F.col("lon").between(8.5, 8.7) & F.col("lat").between(47.3, 47.5)
    rows = (
        skew.filter(~hot)
        .select("url", h.alias("h_skew"))
        .join(plain, "url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("h_skew") != F.col("h_plain")).cast("int")).alias("diff"),
        )
        .collect()[0]
    )
    assert 2000 * 0.6 < rows["n"] < 2000 * 0.8  # ~70% of rows are not hot
    assert rows["diff"] == 0


def _pip_counts(spark, pages):
    return {
        r.poly_id: r.n_points
        for r in pip_counts(extract_geotags(pages).select("lon", "lat"), fixture_polyset()).collect()
    }


def _plan_nodes(df):
    """Every operator of df's executed plan, AQE query stages descended."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif name.startswith(("ShuffleQueryStage", "BroadcastQueryStage", "ResultQueryStage")):
            stack.append(node.plan())
        else:
            out.append(node)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.mark.parametrize("n_poly", [6, 200])
def test_flagship_matches_engine_free_oracle(spark, n_poly):
    """Counts per (poly_id, tile_x, tile_y) equal Python re over the html,
    NumPy tile math and the NumPy ray-cast against every polygon."""
    ps = fixture_polyset(n_poly)
    pages = synth_pages(spark, 3000)
    got = {(r.poly_id, r.tile_x, r.tile_y): r.n_pages for r in flagship(pages, ps).collect()}

    tags = [GEO_TAG.search(bytes(r.html).decode("utf-8")) for r in pages.select("html").collect()]
    lat = np.array([float(m.group(1)) for m in tags])
    lon = np.array([float(m.group(2)) for m in tags])
    tx, ty = tiling.lonlat_to_tile_np(lon, lat, 12)
    mx, my = tiling.lonlat_to_mercator_np(lon, lat)
    want = Counter()
    for pidx, pid in enumerate(ps.ids):
        inside = ps.contains(mx, my, np.full(len(mx), pidx))
        want.update(zip([int(pid)] * int(inside.sum()), tx[inside].tolist(), ty[inside].tolist()))
    assert sum(want.values()) > 10
    assert got == dict(want)


def test_flagship_plan_keeps_tiles_and_refine(spark):
    df = flagship(synth_pages(spark, 3000), fixture_polyset())
    df.collect()
    nodes = _plan_nodes(df)
    projects = [n for n in nodes if n.nodeName() == "Project"]
    outputs = [{n.output().apply(i).name() for i in range(n.output().size())} for n in projects]
    assert any({"tile_x", "tile_y"} <= names for names in outputs)
    assert any(n.nodeName().startswith("ArrowEvalPython") for n in nodes)


def test_entry_counts_equal_pip_counts(spark):
    import __spark_entry__

    out = __spark_entry__.entry(spark)
    rows = out.collect()
    assert {r.poly_id: r.n_pages for r in rows} == _pip_counts(spark, synth_pages(spark, 20_000))
    # a column NULL in every row comes from a join that matched nothing
    # and so checks nothing
    assert [c for c in out.columns if all(r[c] is None for r in rows)] == []


def test_run_pipeline_commits_checks_lineage_and_resumes(spark, tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE_PARTITIONS="4", SPARK_GRAFT_DRIVER_MEM="1g")
    cmd = [sys.executable, os.path.join(REPO, "scripts", "run_pipeline.py"),
           "--pages", "2000", "--shards", "2", "--out", str(tmp_path / "out")]

    def run():
        proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    first = run()
    assert first["lineage_ok"] and first["shards_ran"] == 2
    want = _pip_counts(spark, synth_pages(spark, 2000))
    assert {int(k): v for k, v in first["poly_counts"].items()} == want
    again = run()
    assert again["shards_ran"] == 0 and again["shards_skipped"] == 2
    assert again["lineage_ok"] and again["poly_counts"] == first["poly_counts"]
