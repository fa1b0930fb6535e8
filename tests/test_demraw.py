"""SRTMHGT / BT / ERS / IDRISI / SAGA raw-DEM roundtrips.

Reference behaviors: frmts/srtmhgt/srtmhgtdataset.cpp (big-endian i2
squares, corner from the file name), frmts/raw/btdataset.cpp (256-byte
binterr1.3 header, column-major south->north data), frmts/ers,
frmts/idrisi, frmts/saga (TOPTOBOTTOM=FALSE bottom-up rows).
"""

import os
import struct

import numpy as np
import pytest

from gdal_spark.raster.tiles import raster_to_tiles, tiles_to_raster
from gdal_spark.sources import demraw


def _arr(h, w, dtype):
    rng = np.random.default_rng(13)
    if np.dtype(dtype).kind == "f":
        return rng.uniform(-500, 4000, (h, w)).astype(dtype)
    return rng.integers(-500, 4000, (h, w)).astype(dtype)


def test_srtmhgt_roundtrip_and_name_georef(spark, tmp_path):
    a = _arr(64, 64, "i2")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "N27E086.hgt")
    demraw.write_srtmhgt(t, path, n=64, tile=16)
    # big-endian on disk
    raw = np.frombuffer(open(path, "rb").read(), dtype=">i2")
    assert raw.reshape(64, 64)[0, 0] == a[0, 0]
    back, meta = demraw.read_srtmhgt(spark, path, tile=16)
    np.testing.assert_array_equal(tiles_to_raster(back, 16), a)
    gt = meta["geotransform"]
    step = 1.0 / 63
    assert gt[0] == pytest.approx(86 - step / 2)
    assert gt[3] == pytest.approx(28 + step / 2)
    assert meta["nodata"] == -32768.0


def test_srtmhgt_south_west_name(spark, tmp_path):
    a = _arr(16, 16, "i2")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "S14W072.hgt")
    demraw.write_srtmhgt(t, path, n=16, tile=16)
    _, meta = demraw.read_srtmhgt(spark, path, tile=16)
    gt = meta["geotransform"]
    assert gt[0] == pytest.approx(-72 - (1 / 15) / 2)
    assert gt[3] == pytest.approx(-13 + (1 / 15) / 2)


def test_bt_roundtrip_and_layout(spark, tmp_path):
    # non-square catches row/column transposition
    a = _arr(50, 70, "f4")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "dem.bt")
    demraw.write_bt(t, path, width=70, height=50, dtype="f4",
                    bounds=(10.0, 17.0, 40.0, 45.0), tile=16)
    hdr = open(path, "rb").read(256)
    assert hdr[:10] == b"binterr1.3"
    w, h = struct.unpack("<ii", hdr[10:18])
    assert (w, h) == (70, 50)
    left, right, bottom, top = struct.unpack("<4d", hdr[28:60])
    assert (left, right, bottom, top) == (10.0, 17.0, 40.0, 45.0)
    # column-major, south->north: first column on disk is the leftmost
    # image column read bottom-up
    data = np.frombuffer(open(path, "rb").read()[256:], dtype="<f4")
    np.testing.assert_array_equal(data[:50], a[::-1, 0])
    back, meta = demraw.read_bt(spark, path, tile=16)
    assert meta["bounds"] == (10.0, 17.0, 40.0, 45.0)
    np.testing.assert_array_equal(
        tiles_to_raster(back, 16)[:50, :70], a)


def test_bt_int16_variant(spark, tmp_path):
    a = _arr(20, 30, "i2")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "dem16.bt")
    demraw.write_bt(t, path, width=30, height=20, dtype="i2", tile=16)
    back, meta = demraw.read_bt(spark, path, tile=16)
    assert meta["dtype"] == "i2"
    np.testing.assert_array_equal(
        tiles_to_raster(back, 16)[:20, :30], a)


def test_ers_roundtrip(spark, tmp_path):
    a = _arr(40, 56, "f4")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "dem.ers")
    demraw.write_ers(t, path, samples=56, lines=40, dtype="f4",
                     tile=16, nodata=-99999.0)
    text = open(path).read()
    assert "IEEE4ByteReal" in text and "DatasetHeader Begin" in text
    back, meta = demraw.read_ers(spark, path, tile=16)
    assert meta["datasetheader.rasterinfo.celltype"] == "IEEE4ByteReal"
    np.testing.assert_array_equal(
        tiles_to_raster(back, 16)[:40, :56], a)


def test_idrisi_roundtrip(spark, tmp_path):
    a = _arr(33, 47, "i2")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "dem.rst")
    demraw.write_idrisi(t, path, samples=47, lines=33, dtype="i2",
                        tile=16, vmin=float(a.min()), vmax=float(a.max()))
    rdc = open(str(tmp_path / "dem.rdc")).read()
    assert "IDRISI Raster A.1" in rdc and "data type   : integer" in rdc
    back, meta = demraw.read_idrisi(spark, path, tile=16)
    assert meta["columns"] == "47"
    np.testing.assert_array_equal(
        tiles_to_raster(back, 16)[:33, :47], a)


def test_saga_roundtrip_bottom_up(spark, tmp_path):
    a = _arr(37, 53, "f4")
    t = raster_to_tiles(spark, a, tile=16)
    path = str(tmp_path / "dem.sgrd")
    demraw.write_saga(t, path, samples=53, lines=37, dtype="f4",
                      tile=16, cellsize=30.0, xmin=500000.0,
                      ymin=4100000.0)
    # TOPTOBOTTOM=FALSE: first file row is the BOTTOM image row
    data = np.frombuffer(open(str(tmp_path / "dem.sdat"), "rb").read(),
                         dtype="<f4").reshape(37, 53)
    np.testing.assert_array_equal(data[0], a[-1])
    sgrd = open(path).read()
    assert "TOPTOBOTTOM\t= FALSE" in sgrd
    assert "POSITION_XMIN\t= 500015.0" in sgrd
    back, meta = demraw.read_saga(spark, path, tile=16)
    assert meta["CELLSIZE"] == "30.0"
    np.testing.assert_array_equal(
        tiles_to_raster(back, 16)[:37, :53], a)


def test_saga_byte_and_int_formats(spark, tmp_path):
    for dtype, name in [("u1", "BYTE_UNSIGNED"), ("i4", "INTEGER")]:
        a = np.abs(_arr(18, 21, dtype)).astype(dtype)
        t = raster_to_tiles(spark, a, tile=16)
        path = str(tmp_path / f"g_{dtype}.sgrd")
        demraw.write_saga(t, path, samples=21, lines=18, dtype=dtype,
                          tile=16, nodata=0.0)
        assert f"DATAFORMAT\t= {name}" in open(path).read()
        back, _ = demraw.read_saga(spark, path, tile=16)
        np.testing.assert_array_equal(
            tiles_to_raster(back, 16)[:18, :21], a)


def test_lan_reference_golden_checksums(spark):
    """Erdas LAN: both reference autotest fixtures (8-bit + 4-bit) at
    their golden checksum 10 (autotest/gdrivers/lan.py)."""
    import os

    import numpy as np

    from gdal_spark.core.checksum import gdal_checksum
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.lan import parse_header, read_lan
    d = "/root/reference/autotest/gdrivers/data/lan/"
    if not os.path.isdir(d):
        import pytest
        pytest.skip("reference fixtures absent")
    for name in ("fakelan.lan", "fakelan4bit.lan"):
        meta = parse_header(d + name)
        tiles, _ = read_lan(spark, d + name)
        W, H = meta["width"], meta["height"]
        full = np.zeros((H, W))
        for r in tiles.where("band = 1").collect():
            arr = decode_px(r.px, r.dtype, 256)
            full[:H, :W] = arr[:H, :W]
        assert gdal_checksum(full) == 10


def test_lan_write_read_roundtrip(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from gdal_spark.raster.tiles import TILE_SCHEMA, decode_px, encode_px
    from gdal_spark.sources.lan import parse_header, read_lan, write_lan
    W = H = 70
    t = 32
    rng = np.random.RandomState(3)
    full = rng.randint(-3000, 3000, size=(H, W)).astype(np.int16)
    rows = []
    for ty in range(-(-H // t)):
        for tx in range(-(-W // t)):
            blk = np.zeros((t, t), np.int16)
            sub = full[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t]
            blk[:sub.shape[0], :sub.shape[1]] = sub
            rows.append((1, 0, tx, ty, "i2", None, encode_px(blk)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields]),
        TILE_SCHEMA)
    path = str(tmp_path / "lan_rt.lan")
    write_lan(df, path, W, H, tile=t, pix=2,
              ulx=100.5, uly=-200.5, pw=30.0, ph=30.0)
    meta = parse_header(path)
    assert (meta["width"], meta["height"], meta["pix"]) == (W, H, 2)
    back = np.zeros((H, W))
    for r in read_lan(spark, path, tile=t)[0].collect():
        arr = decode_px(r.px, r.dtype, t)
        y0, x0 = r.tile_y * t, r.tile_x * t
        hh, ww = min(t, H - y0), min(t, W - x0)
        back[y0:y0 + hh, x0:x0 + ww] = arr[:hh, :ww]
    assert np.array_equal(back.astype(np.int16), full)
