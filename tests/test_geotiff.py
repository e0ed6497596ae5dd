"""GeoTIFF codec (sources/geotiff.py) vs the reference's own fixtures
and documented checksums (autotest/gcore/tiff_read.py init_list,
gtiff_write.py, cog.py): endianness, strips/tiles, planar configs,
PackBits/LZW/Deflate, predictors 2/3, partial final blocks."""

import dataclasses
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import gdal_ref
from gdal_spark.raster.checksum import checksum_df, checksum_np
from gdal_spark.raster.model import tiles_from_array, tiles_to_array
from gdal_spark.sources.geotiff import (
    decode_chunk,
    lzw_decode,
    packbits_decode,
    packbits_encode,
    read_geotiff,
    read_tiff_header,
    write_geotiff,
)

DATA = "gcore/data/"  # under the GDAL autotest checkout

# (file, band, checksum) — every value is the reference's own documented
# golden (autotest/gcore/tiff_read.py:45+, gtiff_write.py:32+, cog.py:139)
GOLDENS = [
    ("byte.tif", 1, 4672),
    ("int16.tif", 1, 4672),
    ("uint16.tif", 1, 4672),
    ("int32.tif", 1, 4672),
    ("uint32.tif", 1, 4672),
    ("float32.tif", 1, 4672),
    ("float64.tif", 1, 4672),
    ("utmsmall.tif", 1, 50054),
    ("rgbsmall.tif", 1, 21212),
    ("rgbsmall.tif", 2, 21053),
    ("rgbsmall.tif", 3, 21349),
    ("contig_strip.tif", 2, 15234),
    ("contig_tiled.tif", 2, 15234),
    ("separate_tiled.tif", 2, 15234),
    ("seperate_strip.tif", 2, 15234),
    ("gtiff/float32_lzw_predictor_3_big_endian.tif", 1, 4672),
    ("bug4468.tif", 1, 2923),
]


def _band_array(path, band):
    info = read_tiff_header(path)
    meta = info.meta()
    out = np.zeros((info.height, info.width), dtype=info.dtype)
    with open(path, "rb") as f:
        for b, bx, by, off, size in info.chunks:
            rows_disk = info.block_h if info.tiled else min(
                info.block_h, info.height - by * info.block_h
            )
            f.seek(off)
            arr = decode_chunk(f.read(size), info, rows_disk, info.block_w)
            h, w = meta.block_shape(bx, by)
            arr = arr[:h, :w, :]
            sl = (slice(by * info.block_h, by * info.block_h + h),
                  slice(bx * info.block_w, bx * info.block_w + w))
            if info.planar == 1:
                out[sl] = arr[:, :, band - 1]
            elif b == band:
                out[sl] = arr[:, :, 0]
    return out


@pytest.mark.parametrize("name,band,want", GOLDENS,
                         ids=[f"{n}:{b}" for n, b, _ in GOLDENS])
def test_decode_goldens(name, band, want):
    got = checksum_np(_band_array(gdal_ref(DATA + name), band))
    assert got == want


def test_geotransform_and_meta():
    info = read_tiff_header(gdal_ref(DATA + "byte.tif"))
    assert info.gt == (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
    assert (info.width, info.height, info.dtype) == (20, 20, "uint8")


def test_packbits_roundtrip():
    data = bytes(range(256)) * 3 + b"\x00" * 100
    assert packbits_decode(packbits_encode(data), len(data)) == data


def test_lzw_repeated_pattern():
    # LZW of a strip from a real reference file already golden-verified;
    # here: the degenerate 9-bit growth path on a tiny hand stream
    # (CLEAR, 'A', 'A', EOI) encoded MSB-first at width 9
    import struct
    bits = ""
    for code in (256, 65, 258, 257):
        bits += format(code, "09b")
    bits += "0" * (-len(bits) % 8)
    data = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    assert lzw_decode(data, 3) == b"AAA"


def test_spark_read_and_roundtrips(spark):
    t, meta = read_geotiff(spark, gdal_ref(DATA + "byte.tif"))
    assert int(checksum_df(t, meta)) == 4672
    t3, m3 = read_geotiff(spark, gdal_ref(DATA + "rgbsmall.tif"))
    got = [
        int(checksum_df(t3.filter(F.col("band") == b).withColumn("band", F.lit(1)), m3))
        for b in (1, 2, 3)
    ]
    assert got == [21212, 21053, 21349]
    # write → read byte-identical (deflate, georef + multi-band)
    import tempfile

    p = os.path.join(tempfile.mkdtemp(), "rt.tif")
    write_geotiff(t, meta, p, compress="deflate")
    t2, m2 = read_geotiff(spark, p)
    assert m2.gt == meta.gt
    assert (tiles_to_array(t2, m2) == tiles_to_array(t, meta)).all()
    # float32 + nodata, uncompressed
    fmeta = dataclasses.replace(meta, dtype="float32", nodata=-9999.0)
    arrf = tiles_to_array(t, meta).astype("float32")
    arrf[0, 0] = -9999.0
    p2 = os.path.join(tempfile.mkdtemp(), "f.tif")
    write_geotiff(tiles_from_array(spark, arrf, fmeta), fmeta, p2, compress=None)
    t4, m4 = read_geotiff(spark, p2)
    assert m4.nodata == -9999.0 and m4.dtype == "float32"
    assert (tiles_to_array(t4, m4) == arrf).all()


def test_ifd_chain_and_sparse(spark):
    """COG layouts: IFD-chain overview selection and sparse (offset-0)
    blocks reading as implicit zeros."""
    from gdal_spark.sources.geotiff import tiff_ifd_count

    p = gdal_ref(DATA + "cog_sparse_strile_arrays_zeroified_when_possible.tif")
    assert tiff_ifd_count(p) == 2
    t, meta = read_geotiff(spark, p)
    assert (meta.width, meta.height) == (512, 512)
    a = tiles_to_array(t, meta)
    # the fixture is a sparse COG: zeroed striles decode as zeros, the
    # single real tile carries data
    assert a.shape == (512, 512) and int(a.max()) > 0
    assert int((a == 0).sum()) > 512 * 512 // 2
    t_ovr, m_ovr = read_geotiff(spark, p, overview=1)
    assert (m_ovr.width, m_ovr.height) == (256, 256)
    a2 = tiles_to_array(t_ovr, m_ovr)
    assert a2.shape == (256, 256)


def test_raster_tile_pyramid(spark, tmp_path):
    """gdal raster tile: byte.tif fixture (EPSG:26711) → WebMercator
    {z}/{x}/{y}.tif tree; every written tile must equal the single-node
    warp oracle's slice of the same grid-aligned window."""
    from gdal_spark.raster.model import byte_fixture
    from gdal_spark.raster.tile_pyramid import raster_tile_pyramid, zoom_window
    from gdal_spark.raster.warp import warp_crs_np

    arr, meta = byte_fixture()
    tiles = tiles_from_array(spark, arr, meta)
    out = raster_tile_pyramid(
        tiles, meta, 26711, str(tmp_path), zooms=(13, 15)
    ).collect()
    assert {r.z for r in out} == {13, 15}
    n13 = [r for r in out if r.z == 13]
    n15 = [r for r in out if r.z == 15]
    assert len(n13) >= 1 and len(n15) >= len(n13)
    for z, written in ((13, n13), (15, n15)):
        dst_meta, tx0, ty0 = zoom_window(meta, 26711, z)
        oracle = warp_crs_np(arr, meta, dst_meta, 26711, 3857)
        for r in written:
            t, m = read_geotiff(spark, r.path)
            got = tiles_to_array(t, m)
            bx, by = r.x - tx0, r.y - ty0
            want = oracle[by * 256:(by + 1) * 256, bx * 256:(bx + 1) * 256]
            assert np.array_equal(got, want), (z, r.x, r.y)
            assert m.gt[1] == dst_meta.gt[1]  # per-tile res matches level


def test_nodata_short_repr_inline_tag(tmp_path):
    """ADVICE r4: GDAL_NODATA values whose ASCII repr fits in ≤4 bytes
    must be stored INLINE in the tag entry per TIFF 6.0 (the reader's
    size<=4 branch decodes from there); an offset entry would silently
    roundtrip nodata to garbage."""
    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.sources.geotiff import encode_geotiff, read_tiff_header

    arr = {1: np.arange(48, dtype=np.uint8).reshape(6, 8)}
    for nd in (0.0, -1.0, 9.5, 255.0, 123456.789):
        meta = RasterMeta(width=8, height=6, block_w=8, block_h=6,
                          dtype="uint8", gt=(0.0, 1.0, 0.0, 6.0, 0.0, -1.0),
                          nodata=nd)
        p = str(tmp_path / f"nd_{nd}.tif")
        with open(p, "wb") as f:
            f.write(encode_geotiff(arr, meta))
        assert read_tiff_header(p).nodata == nd
