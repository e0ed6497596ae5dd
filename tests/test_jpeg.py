"""Baseline JPEG decoder (sources/jpeg.py) vs the reference's own
documented fixture checksums (autotest/gdrivers/jpeg.py) — bit-exact
with the vendored libjpeg 6b decode path."""

import numpy as np
import pytest

from conftest import gdal_ref
from gdal_spark.raster.checksum import checksum_np
from gdal_spark.sources.jpeg import decode_jpeg, idct_islow_blocks, read_jpeg

JP = "gdrivers/data/jpeg"  # under the GDAL autotest checkout


@pytest.mark.parametrize(
    "path,band,expected",
    [
        (f"{JP}/albania.jpg", 2, 17016),       # 4:2:0 YCbCr (jpeg.py:46)
        (f"{JP}/rgb_ntf_cmyk.jpg", 1, 20385),  # Adobe CMYK → C·K/255
        (f"{JP}/rgb_ntf_cmyk.jpg", 2, 20865),
        (f"{JP}/rgb_ntf_cmyk.jpg", 3, 19441),
    ],
)
def test_reference_fixture_checksums(path, band, expected):
    bands, info = decode_jpeg(open(gdal_ref(path), "rb").read())
    assert checksum_np(bands[band]) == expected


def test_decode_shapes_and_gray():
    bands, info = decode_jpeg(open(gdal_ref(f"{JP}/albania.jpg"), "rb").read())
    assert (info["width"], info["height"]) == (361, 260) and len(bands) == 3
    bands, info = decode_jpeg(
        open(gdal_ref(f"{JP}/black_with_white_exif_ovr.jpg"), "rb").read())
    assert len(bands) == 1 and bands[1].shape == (1024, 1024)
    # fixture is a black square with a white rectangle: bimodal values
    assert set(np.unique(bands[1])) <= set(range(0, 8)) | set(range(248, 256))


def test_out_of_scope_variants_raise():
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(open(gdal_ref(f"{JP}/arcgis_geodataxform_gcp.jpg"), "rb").read())
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(open(gdal_ref(f"{JP}/12bit_rose_extract.jpg"), "rb").read())
    with pytest.raises(ValueError):
        decode_jpeg(open(gdal_ref(f"{JP}/bogus.jpg"), "rb").read())


def test_idct_islow_matches_float_dct():
    """The fixed-point islow IDCT must track the exact float IDCT within
    the IJG's documented ±1 LSB accuracy on random coefficient blocks."""
    rng = np.random.default_rng(4)
    coefs = rng.integers(-64, 65, (64, 8, 8)).astype(np.int32)
    coefs[:, 4:, :] = 0  # keep magnitudes in-range like real data
    quant = np.ones((8, 8), dtype=np.int64)
    got = idct_islow_blocks(coefs, quant).astype(np.float64)
    k = np.arange(8)
    c = np.where(k == 0, 1 / np.sqrt(2.0), 1.0)
    basis = c[:, None] * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2
    ref = np.einsum("ux,nuv,vy->nxy", basis, coefs.astype(np.float64), basis)
    ref = np.clip(np.round(ref + 128), 0, 255)
    assert np.abs(got - ref).max() <= 1.0


def test_read_jpeg_spark(spark):
    from gdal_spark.raster.model import tiles_to_array

    tiles, meta = read_jpeg(spark, gdal_ref(f"{JP}/albania.jpg"))
    assert (meta.width, meta.height, meta.bands) == (361, 260, 3)
    g = tiles_to_array(tiles, meta, band=2)
    assert checksum_np(g) == 17016


def test_multimodal_real_decode_jpeg(spark):
    import pandas as pd

    from gdal_spark.multimodal import image_features

    data = open(gdal_ref(f"{JP}/albania.jpg"), "rb").read()
    media = spark.createDataFrame(
        [(0, "image", bytearray(data), 361, 260, 3, 0, 1)],
        "media_id LONG, kind STRING, data BINARY, width INT, height INT, "
        "channels INT, sample_rate INT, n_frames INT",
    )
    r = image_features(media, decode="real").collect()[0]
    bands, _ = decode_jpeg(data)
    img = np.stack([bands[b] for b in (1, 2, 3)], axis=-1)
    assert r.mean_e6 == int(np.floor(img.mean() * 1e6 + 0.5))
    assert list(r.hist) == [int(x) for x in np.bincount(img.ravel() >> 5, minlength=8)]


# --------------------------------------------------------------------------
# encoder (write path)
# --------------------------------------------------------------------------

def test_encode_blockconstant_gray_q100_exact():
    """Block-constant gray at quality 100 (all-1 tables): DC-only blocks
    quantize losslessly -> bit-exact roundtrip through the encoder and
    the libjpeg-bit-exact decoder."""
    from gdal_spark.sources.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, (6, 5), dtype=np.uint8)
    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    bands, info = decode_jpeg(encode_jpeg(img, quality=100))
    assert (info["width"], info["height"], info["n_components"]) == (40, 48, 1)
    assert np.array_equal(bands[1], img)


def test_encode_roundtrip_bounds_and_modes():
    from gdal_spark.sources.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:41, 0:55]
    img = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((xx + yy) * 2) % 256], -1
    ).astype(np.uint8)
    for sub, bound in (("444", 4), ("420", 6)):
        bands, info = decode_jpeg(encode_jpeg(img, quality=95, subsampling=sub))
        assert (info["width"], info["height"]) == (55, 41)  # odd dims survive
        dec = np.stack([bands[1], bands[2], bands[3]], -1).astype(int)
        assert np.abs(dec - img.astype(int)).max() <= bound, sub

    # quality monotonicity on noise
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    errs = []
    for q in (50, 75, 95):
        b, _ = decode_jpeg(encode_jpeg(noise, quality=q))
        dec = np.stack([b[1], b[2], b[3]], -1).astype(int)
        errs.append(float(np.abs(dec - noise.astype(int)).mean()))
    assert errs[0] > errs[1] > errs[2]

    # non-multiple-of-8 and degenerate shapes decode to original dims
    for shape in [(1, 1), (3, 9), (17, 1), (16, 24)]:
        g = rng.integers(0, 256, shape, dtype=np.uint8)
        b, _ = decode_jpeg(encode_jpeg(g, quality=90))
        assert b[1].shape == shape


def test_encode_rejects_bad_input():
    import pytest as _pytest

    from gdal_spark.sources.jpeg import encode_jpeg

    with _pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4, 2), dtype=np.uint8))
    with _pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), dtype=np.uint8), subsampling="422")
    with _pytest.raises(ValueError):
        encode_jpeg(np.zeros((0, 4), dtype=np.uint8))


def test_tile_pyramid_jpg(spark, tmp_path):
    """JPEG XYZ tiles: same sampled values as the tif pyramid within the
    quality-90 error bound."""
    from gdal_spark.raster.model import byte_fixture, tiles_from_array
    from gdal_spark.raster.tile_pyramid import raster_tile_pyramid
    from gdal_spark.sources.png import decode_png

    arr, meta = byte_fixture()
    tiles = tiles_from_array(spark, arr, meta)
    jw = raster_tile_pyramid(
        tiles, meta, 26711, str(tmp_path / "jp"), zooms=(13,),
        tile_format="jpg",
    ).collect()
    pw = raster_tile_pyramid(
        tiles, meta, 26711, str(tmp_path / "pp"), zooms=(13,),
        tile_format="png",
    ).collect()
    assert jw and all(r.path.endswith(".jpg") for r in jw)
    # PNG tiles are a pixel-identical encoding of the same sampled values
    ref = {(r.z, r.x, r.y): r.path for r in pw}
    for r in jw:
        bands, info = decode_jpeg(open(r.path, "rb").read())
        assert bands[1].shape == (256, 256)
        pbands, _ = decode_png(open(ref[(r.z, r.x, r.y)], "rb").read())
        err = np.abs(bands[1].astype(int) - pbands[1].astype(int))
        assert err.mean() < 4 and err.max() <= 48


def test_encode_adversarial_basis_input():
    """Basis-sign-matched blocks maximize |AC| (1020 at quality 100 for
    uint8 input — inside baseline's 10-bit category limit; the encoder
    clamps at 1023 as insurance). Whole-image roundtrip must encode and
    decode cleanly at every quality."""
    from gdal_spark.sources.jpeg import decode_jpeg, encode_jpeg

    n = np.arange(8)
    C = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    tiles = [
        np.where(np.outer(C[u], C[v]) >= 0, 255, 0).astype(np.uint8)
        for u in range(8) for v in range(8)
    ]
    img = np.vstack([np.hstack(tiles[i * 8:(i + 1) * 8]) for i in range(8)])
    for q in (100, 95, 10):
        bands, _ = decode_jpeg(encode_jpeg(img, quality=q))
        assert bands[1].shape == img.shape
    # at q100 the worst block still reconstructs closely
    b100, _ = decode_jpeg(encode_jpeg(img, quality=100))
    assert np.abs(b100[1].astype(int) - img.astype(int)).max() <= 8
