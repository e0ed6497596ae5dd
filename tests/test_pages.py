"""Pages synthesis, geotag extraction round-trip, lineage manifests."""
import numpy as np
from pyspark.sql import functions as F

from gdal_spark.lineage import assert_unchanged, global_fingerprint, partition_manifest
from gdal_spark.operators.spatial_join import assign_tiles
from gdal_spark.pages import extract_geotags, synth_pages


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


def test_partition_manifest_sums_to_global(spark):
    pages = synth_pages(spark, 300, partitions=6)
    man = partition_manifest(pages).collect()
    n, x = global_fingerprint(pages)
    assert sum(r.row_count for r in man) == n == 300
    acc = 0
    for r in man:
        acc ^= r.xxh64_xor
    assert acc == x


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
