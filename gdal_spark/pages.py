"""Common-Crawl-style ``pages`` table: deterministic synthesis, geotag
extraction, and the flagship spatial pipeline input.

Schema per BASELINE.json input_hint:
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``.

Synthesis is fully distributed column math over ``spark.range(n)`` — no
driver-side data, no Python row loop — so the same code synthesizes 10^3
rows for pytest and 10^8+ for throughput runs. Randomness is splitmix64
over the row id (seed folded in), built from Java-long wraparound
arithmetic (ANSI off), so every run and every engine sees identical bytes.

Geotag extraction is JVM-side ``regexp_extract`` over the html — the hot
path stays inside whole-stage codegen; no Python touches the trillion-row
table until the (already cell-pruned) PIP refine.

:func:`flagship` is the one definition of the flagship pipeline; the
driver entry, the benchmarks and the spark-submit script all call it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from gdal_spark.geometry.index import PolygonSet
from gdal_spark.operators.spatial_join import assign_tiles, point_in_polygon_join

SEED = 42
LANGS = ["en", "de", "fr", "es", "pt", "zh", "ru", "ar"]
# cumulative percent thresholds for the weighted lang mix
_LANG_CUM = [45, 60, 70, 80, 87, 93, 97, 100]

TILE_ZOOM = 12  # the flagship's WebMercator tile level
HOT_LON, HOT_LAT = 8.54, 47.37  # south-west corner of the skew hot spot

GEO_RE = r'<meta name="geo\.position" content="(-?\d+\.\d+);(-?\d+\.\d+)"'

_SM_GAMMA = -7046029254386353131  # 0x9E3779B97F4A7C15 as signed int64
_SM_MUL1 = -4658895280553007687  # 0xBF58476D1CE4E5B9
_SM_MUL2 = -7723592293110705685  # 0x94D049BB133111EB


def splitmix64_col(i: Column) -> Column:
    """splitmix64 finalizer over a BIGINT column (wraparound semantics)."""
    z = (i + F.lit(SEED)) * F.lit(_SM_GAMMA)
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 30)) * F.lit(_SM_MUL1)
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 27)) * F.lit(_SM_MUL2)
    return z.bitwiseXOR(F.shiftrightunsigned(z, 31))


def pages_columns(
    i: Column,
    ts: Column | None = None,
    lon_u: Column | None = None,
    lat_u: Column | None = None,
) -> list[Column]:
    """The 5 pages columns derived from an integer id column — shared by
    batch synthesis (spark.range), its skew variant and the streaming rate
    source, so every run mode synthesizes byte-identical rows for the same
    id. ``lon_u``/``lat_u`` override the geotag, in micro-degrees offset by
    (180, 84) (integers → exact 6-decimal round-trip through the html)."""
    h = splitmix64_col(i)
    h2 = splitmix64_col(i + F.lit(1_000_000_007))
    if lon_u is None:
        lon_u = F.pmod(h, F.lit(360_000_000))
    if lat_u is None:
        lat_u = F.pmod(h2, F.lit(168_000_000))
    lon = (lon_u.cast("double") / 1e6) - 180.0
    lat = (lat_u.cast("double") / 1e6) - 84.0
    lang_bucket = F.pmod(h2, F.lit(100))
    lang = F.lit(LANGS[-1])
    for code, cum in reversed(list(zip(LANGS, _LANG_CUM))):
        lang = F.when(lang_bucket < F.lit(cum), F.lit(code)).otherwise(lang)
    text = F.format_string(
        "Page %d from site %d. %s",
        i,
        F.pmod(i, F.lit(10007)),
        F.repeat(
            F.format_string("token%d data web crawl text ", F.pmod(h, F.lit(997))),
            (F.pmod(h2, F.lit(8)) + F.lit(1)).cast("int"),
        ),
    )
    html = F.format_string(
        '<html><head><meta name="geo.position" content="%.6f;%.6f"/>'
        "<title>p%d</title></head><body>%s</body></html>",
        lat,
        lon,
        i,
        text,
    )
    if ts is None:
        ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
            secs=F.pmod(i * 37, F.lit(31_536_000)).cast("double")
        )
    return [
        F.format_string("https://site%d.example/p/%d", F.pmod(i, F.lit(10007)), i).alias("url"),
        ts.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    ]


def synth_pages(
    spark: SparkSession,
    n: int,
    skew_hot_fraction: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pages table of n rows (FIXTURES.md §1).

    ``skew_hot_fraction > 0`` collapses that fraction of rows onto the
    0.1°×0.1° hot spot at ``(HOT_LON, HOT_LAT)`` (the skew-stress variant
    that forces AQE/salting to earn its keep).
    """
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    if skew_hot_fraction <= 0.0:
        return df.select(pages_columns(i))
    h = splitmix64_col(i)
    h2 = splitmix64_col(i + F.lit(1_000_000_007))
    hot = F.pmod(h, F.lit(1000)) < F.lit(int(skew_hot_fraction * 1000))
    lon_u = F.when(
        hot, F.lit(int((HOT_LON + 180.0) * 1e6)) + F.pmod(h2, F.lit(100_000))
    ).otherwise(F.pmod(h, F.lit(360_000_000)))
    lat_u = F.when(
        hot, F.lit(int((HOT_LAT + 84.0) * 1e6)) + F.pmod(h, F.lit(100_000))
    ).otherwise(F.pmod(h2, F.lit(168_000_000)))
    return df.select(pages_columns(i, lon_u=lon_u, lat_u=lat_u))


def extract_geotags(pages: DataFrame) -> DataFrame:
    """Pull (lon, lat) out of the html geotag — JVM regexp, no UDF.

    Pages without a geotag get NULL lon/lat (dropped by the spatial ops);
    the ``text`` column passes through untouched (byte-identity invariant).
    """
    html_s = F.decode(F.col("html"), "UTF-8")
    # no-match → '' → NULL under non-ANSI cast: one regexp eval per column
    # (a WHEN guard would double-evaluate the regexp — measured 2x cost)
    lat = F.regexp_extract(html_s, GEO_RE, 1).cast("double")
    lon = F.regexp_extract(html_s, GEO_RE, 2).cast("double")
    return pages.withColumn("lat", lat).withColumn("lon", lon)


def flagship(pages: DataFrame, polyset: PolygonSet) -> DataFrame:
    """The flagship pipeline: geotag extract → z12 tile assign → cell-cover
    PIP join (default cover zoom) with the Arrow ray-cast refine → one
    ``n_pages`` count per ``(poly_id, tile_x, tile_y)``.

    Only the join columns ride into the spatial stage: Catalyst does not
    prune html/text through the PIP join and its UDF."""
    tiled = assign_tiles(extract_geotags(pages), TILE_ZOOM)
    joined = point_in_polygon_join(tiled.select("lon", "lat", "tile_x", "tile_y"), polyset)
    return joined.groupBy("poly_id", "tile_x", "tile_y").agg(F.count(F.lit(1)).alias("n_pages"))
