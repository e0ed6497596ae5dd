"""PNG codec (sources/png.py) vs the reference's own documented fixture
checksums (autotest/gdrivers/png.py:38,102,112; gdrivers/tga.py:147) +
full encode/decode roundtrip matrix."""

import numpy as np
import pytest

from conftest import gdal_ref
from gdal_spark.raster.checksum import checksum_np
from gdal_spark.sources.png import decode_png, encode_png, read_png, write_png


@pytest.mark.parametrize(
    "path,band,expected",
    [
        ("gdrivers/data/png/test.png", 1, 57921),       # palette
        ("gdrivers/data/png/rgba16.png", 3, 1815),      # 16-bit
        ("gdrivers/data/png/rgba16.png", 4, 4873),
        ("gcore/data/stefan_full_rgba.png", 1, 12603),  # Adam7
    ],
)
def test_reference_fixture_checksums(path, band, expected):
    bands, info = decode_png(open(gdal_ref(path), "rb").read())
    assert checksum_np(bands[band]) == expected


def test_stefan_is_interlaced_and_sized():
    bands, info = decode_png(
        open(gdal_ref("gcore/data/stefan_full_rgba.png"), "rb").read())
    # documented by gdrivers/tga.py:143-144 for the same pixels
    assert (info["width"], info["height"]) == (162, 150)
    assert info["interlace"] == 1 and len(bands) == 4


@pytest.mark.parametrize("nbands", [1, 2, 3, 4])
@pytest.mark.parametrize("depth", [8, 16])
def test_roundtrip_all_filters(nbands, depth):
    rng = np.random.default_rng(nbands * 100 + depth)
    dt = np.uint8 if depth == 8 else np.uint16
    hi = (1 << depth) - 1
    bands = {b + 1: rng.integers(0, hi + 1, (23, 31)).astype(dt)
             for b in range(nbands)}
    for ft in (0, 1, 2, 3, 4, "adaptive"):
        out, info = decode_png(encode_png(bands, filter_type=ft))
        assert all(np.array_equal(out[b], bands[b]) for b in bands), ft
        assert info["bit_depth"] == depth


def test_palette_and_trns_roundtrip():
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 16, (10, 12)).astype(np.uint8)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    tr = rng.integers(0, 256, 16).astype(np.uint8)
    out, info = decode_png(encode_png({1: idx}, palette=pal, trns=tr))
    assert np.array_equal(out[1], idx)
    assert np.array_equal(info["palette"], pal)
    assert np.array_equal(info["trns"], tr)
    # tRNS on RGB → the reference's NODATA_VALUES metadata
    bands = {b + 1: rng.integers(0, 256, (8, 8)).astype(np.uint8)
             for b in range(3)}
    _, info = decode_png(encode_png(bands, trns=(10, 20, 30)))
    assert info["nodata_values"] == [10, 20, 30]


def test_bad_crc_and_truncation_raise():
    data = bytearray(encode_png({1: np.zeros((4, 4), dtype=np.uint8)}))
    data[20] ^= 0xFF  # corrupt IHDR payload
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")


def test_read_write_png_spark(spark, tmp_path):
    from gdal_spark.raster.model import RasterMeta, tiles_from_array, tiles_to_array

    rng = np.random.default_rng(9)
    arr = rng.integers(0, 256, (37, 53)).astype(np.uint8)
    meta = RasterMeta(width=53, height=37, dtype="uint8", block_w=16, block_h=16)
    p = str(tmp_path / "t.png")
    write_png(tiles_from_array(spark, arr, meta), meta, p)
    # world file honored on read
    (tmp_path / "t.wld").write_text("2.0\n0.0\n0.0\n-2.0\n101.0\n499.0\n")
    tiles, m = read_png(spark, p, block_w=16, block_h=16)
    assert (m.width, m.height, m.dtype) == (53, 37, "uint8")
    assert m.gt == (100.0, 2.0, 0.0, 500.0, 0.0, -2.0)
    assert np.array_equal(tiles_to_array(tiles, m), arr)


def test_tile_pyramid_png(spark, tmp_path):
    from gdal_spark.raster.model import byte_fixture, tiles_from_array
    from gdal_spark.raster.tile_pyramid import raster_tile_pyramid

    arr, meta = byte_fixture()
    written = raster_tile_pyramid(
        tiles_from_array(spark, arr, meta), meta, 26711,
        str(tmp_path / "pyr"), zooms=(13,), tile_format="png",
    ).collect()
    assert written and all(r.path.endswith(".png") for r in written)
    for r in written:
        bands, info = decode_png(open(r.path, "rb").read())
        assert bands[1].shape == (256, 256)


def test_multimodal_real_decode_png(spark):
    from gdal_spark.multimodal import image_features, synth_png_media

    feats = {
        r.media_id: r
        for r in image_features(synth_png_media(spark, 8), decode="real").collect()
    }
    for mid in range(8):
        rng = np.random.default_rng(mid + 1)
        w, h = 32 + mid % 29, 32 + (mid * 7) % 23
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        r = feats[mid]
        assert r.mean_e6 == int(np.floor(img.mean() * 1e6 + 0.5))
        assert list(r.hist) == [int(x) for x in np.bincount(img.ravel() >> 5, minlength=8)]
