"""Ranged-read IO seam (core/vsi.py — the /vsicurl//vsis3 twin,
port/cpl_vsil_curl.cpp semantics): pread/fsize dispatch by scheme,
PagedReader byte-access API, and a registered mock remote backend
driving an unmodified format reader (read_ifd) end-to-end."""

import os
import struct

import numpy as np
import pytest

from gdal_spark.core import vsi


@pytest.fixture
def blob(tmp_path):
    data = bytes(range(256)) * 1024          # 256 KiB, 4 pages @64K
    p = tmp_path / "blob.bin"
    p.write_bytes(data)
    return str(p), data


def test_pread_fsize_local(blob):
    path, data = blob
    assert vsi.fsize(path) == len(data)
    assert vsi.pread(path, 0, 16) == data[:16]
    assert vsi.pread(path, len(data) - 8, 100) == data[-8:]  # short @EOF
    assert vsi.pread(path, 70000, 10) == data[70000:70010]
    assert vsi.fsize("file://" + path) == len(data)


def test_paged_reader_accesses(blob):
    path, data = blob
    r = vsi.PagedReader(path, page=4096, max_pages=4)
    assert len(r) == len(data)
    assert r[5] == data[5]
    assert r[-1] == data[-1]
    assert r[100:300] == data[100:300]
    # cross-page slice
    assert r[4090:4110] == data[4090:4110]
    assert r.unpack("<I", 4094) == struct.unpack_from("<I", data, 4094)
    # find across a page boundary
    needle = data[4094:4099]
    assert r.find(needle, 4000) == data.find(needle, 4000)
    assert r.find(b"\xff\x00", 0) == data.find(b"\xff\x00")
    assert r.find(b"nope-not-there", 0) == -1
    with pytest.raises(ValueError):
        r.index(b"nope-not-there")
    # LRU bound: touching many pages never holds more than max_pages
    for off in range(0, len(data), 4096):
        r.read(off, 8)
    assert len(r._pages) <= 4


def test_paged_reader_counts_fetched_bytes(blob):
    path, data = blob
    r = vsi.PagedReader(path, page=65536)
    r.read(0, 100)
    assert r.bytes_fetched == 65536
    r.read(50, 10)                            # cached — no new fetch
    assert r.bytes_fetched == 65536


def test_seek_reader_is_file_like(blob):
    path, data = blob
    with vsi.open_seekable(path) as f:
        assert f.read(8) == data[:8]
        assert f.tell() == 8
        f.seek(100)
        assert f.read(4) == data[100:104]
        f.seek(4, 1)
        assert f.tell() == 108
        f.seek(-8, 2)
        assert f.read() == data[-8:]
        assert f.read(10) == b""


def test_registered_backend_drives_format_reader(tmp_path):
    """A mock remote scheme — registered once in vsi — makes an
    UNMODIFIED format reader ranged-read 'remote' data: read_ifd over
    mock:// preads only header/IFD bytes, never the payload."""
    from gdal_spark.sources.geotiff import read_ifd, write_gtiff

    local = str(tmp_path / "x.tif")
    write_gtiff(np.arange(40000, dtype=np.uint16).reshape(200, 200),
                local)

    calls = []

    def strip(path):
        return os.path.join(str(tmp_path),
                            path[len("mock://"):])

    def mock_pread(path, offset, size):
        calls.append((offset, size))
        with open(strip(path), "rb") as f:
            f.seek(offset)
            return f.read(size)

    def mock_fsize(path):
        return os.path.getsize(strip(path))

    vsi.register_backend("mock", mock_pread, mock_fsize)
    try:
        info = read_ifd("mock://x.tif")
        assert (info["width"], info["height"]) == (200, 200)
        fetched = sum(s for _o, s in calls)
        # header + IFD only — a fraction of the 80 KB payload
        assert fetched < os.path.getsize(local) // 2
    finally:
        vsi._BACKENDS.pop("mock")

    with pytest.raises(ValueError):
        vsi.pread("nosuchscheme://x", 0, 1)


def test_scratch_fresh_paths_under_one_root(own_scratch):
    a, b = vsi.scratch(), vsi.scratch(".tif")
    root = os.path.dirname(a)
    assert a != b and os.path.dirname(b) == root and b.endswith(".tif")
    assert os.listdir(own_scratch) == [os.path.basename(root)]
    assert os.path.basename(root).startswith("gdal_spark_")
    assert os.listdir(root) == []              # nothing exists at a or b
    with open(b, "wb") as f:
        f.write(b"x")
    vsi.remove_scratch()
    assert not os.path.exists(root)
    assert os.path.dirname(vsi.scratch()) != root  # a new root after cleanup
    vsi.remove_scratch()
