"""Ranged-read IO seam (the engine's /vsi twin — port/cpl_vsil_curl.cpp
semantics, local-file backend only in this container).

Every binary format reader routes its byte access through `pread()` /
`fsize()` so that adding a remote backend (S3 / HTTP range requests —
what the reference's /vsicurl//vsis3 handlers do) is ONE registration
here, not an edit in sixty format modules.  Backends are selected by
URL scheme; bare paths and file:// go to the local os.pread backend.

`PagedReader` is the driver-side metadata-walk companion: a lazily
paged, LRU-bounded view of a file that supports the byte accesses the
header parsers need (int / slice indexing, struct unpack, forward
find) WITHOUT ever materializing the file.  A multi-GB HDF5/HFA file
opens with only its superblock / node-tree / B-tree pages resident —
the same access pattern geotiff.read_ifd uses for TIFF IFDs.

`scratch()` is the seam's side for throwaway files: every file the
package writes for itself (round-trip fixtures, extracted /vsizip/
members, GeoJP2 staging TIFFs) gets a fresh path under ONE per-process
root, removed at exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import struct
import tempfile
import threading
from collections import OrderedDict

# -- backend registry --------------------------------------------------------

def _local_pread(path: str, offset: int, size: int) -> bytes:
    fd = os.open(path, os.O_RDONLY)
    try:
        return os.pread(fd, size, offset)
    finally:
        os.close(fd)


def _local_fsize(path: str) -> int:
    return os.stat(path).st_size


_BACKENDS: dict[str, tuple] = {
    "": (_local_pread, _local_fsize),
    "file": (_local_pread, _local_fsize),
}


def register_backend(scheme: str, pread_fn, fsize_fn) -> None:
    """Install a ranged-read backend for `scheme://` paths.
    pread_fn(path, offset, size) -> bytes (short read allowed at EOF);
    fsize_fn(path) -> int."""
    _BACKENDS[scheme.lower()] = (pread_fn, fsize_fn)


def _split(path: str) -> tuple[str, str]:
    i = path.find("://")
    if i <= 0:
        return "", path
    scheme = path[:i].lower()
    if scheme == "file":
        return "file", path[i + 3:]
    return scheme, path


def pread(path: str, offset: int, size: int) -> bytes:
    """Read up to `size` bytes at `offset` (short at EOF). The single
    byte-access indirection every format reader goes through."""
    scheme, p = _split(path)
    try:
        fn = _BACKENDS[scheme][0]
    except KeyError:
        raise ValueError(f"no IO backend registered for {scheme}://")
    return fn(p, offset, size)


def fsize(path: str) -> int:
    scheme, p = _split(path)
    try:
        fn = _BACKENDS[scheme][1]
    except KeyError:
        raise ValueError(f"no IO backend registered for {scheme}://")
    return fn(p)


# -- paged driver-side view ---------------------------------------------------

class PagedReader:
    """Lazily paged read-only view of a file.

    Supports the accesses header/metadata parsers use — `buf[i]`,
    `buf[a:b]`, `buf.unpack(fmt, pos)`, `buf.find(needle, start)`,
    `len(buf)` — while keeping at most `max_pages` pages resident
    (LRU).  `bytes_fetched` counts actual backend reads, so tests can
    assert a metadata walk stayed header-sized on an arbitrarily large
    file."""

    __slots__ = ("path", "page", "max_pages", "_size", "_pages",
                 "bytes_fetched")

    def __init__(self, path: str, page: int = 1 << 16,
                 max_pages: int = 256):
        self.path = path
        self.page = page
        self.max_pages = max_pages
        self._size = fsize(path)
        self._pages: OrderedDict[int, bytes] = OrderedDict()
        self.bytes_fetched = 0

    def __len__(self) -> int:
        return self._size

    def _page(self, n: int) -> bytes:
        pg = self._pages.get(n)
        if pg is not None:
            self._pages.move_to_end(n)
            return pg
        pg = pread(self.path, n * self.page, self.page)
        self.bytes_fetched += len(pg)
        self._pages[n] = pg
        if len(self._pages) > self.max_pages:
            self._pages.popitem(last=False)
        return pg

    def read(self, pos: int, n: int) -> bytes:
        """n bytes at pos (short at EOF)."""
        if n <= 0 or pos >= self._size:
            return b""
        n = min(n, self._size - pos)
        first, last = pos // self.page, (pos + n - 1) // self.page
        if first == last:
            pg = self._page(first)
            off = pos - first * self.page
            return pg[off:off + n]
        parts = []
        p = pos
        remaining = n
        for pn in range(first, last + 1):
            pg = self._page(pn)
            off = p - pn * self.page
            take = min(remaining, len(pg) - off)
            parts.append(pg[off:off + take])
            p += take
            remaining -= take
        return b"".join(parts)

    def __getitem__(self, key):
        if isinstance(key, slice):
            start, stop, step = key.indices(self._size)
            if step != 1:
                return self.read(start, max(0, stop - start))[::step]
            return self.read(start, max(0, stop - start))
        if key < 0:
            key += self._size
        b = self.read(key, 1)
        if not b:
            raise IndexError(key)
        return b[0]

    def unpack(self, fmt: str, pos: int):
        return struct.unpack(fmt, self.read(pos, struct.calcsize(fmt)))

    def find(self, needle: bytes, start: int = 0,
             max_scan: int | None = None) -> int:
        """Forward search; -1 if absent (within max_scan bytes)."""
        if isinstance(needle, int):
            needle = bytes([needle])
        end = self._size if max_scan is None \
            else min(self._size, start + max_scan)
        pos = start
        overlap = len(needle) - 1
        while pos < end:
            chunk = self.read(pos, min(self.page, end - pos) + overlap)
            i = chunk.find(needle)
            if i >= 0 and pos + i + len(needle) <= end + overlap:
                return pos + i
            pos += self.page
        return -1

    def index(self, needle, start: int = 0) -> int:
        i = self.find(needle, start)
        if i < 0:
            raise ValueError("subsection not found")
        return i


# -- file-like adapter ---------------------------------------------------------

class SeekReader:
    """Read-only file-like (seek/read/tell) over pread(). Drop-in for
    format readers that already do bounded seek+read, so their byte
    access goes through the backend seam with a one-line swap of
    `open(path, 'rb')` -> `vsi.open_seekable(path)`."""

    __slots__ = ("path", "pos", "_size")

    def __init__(self, path: str):
        self.path = path
        self.pos = 0
        self._size = None

    def _fsize(self) -> int:
        if self._size is None:
            self._size = fsize(self.path)
        return self._size

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 0:
            self.pos = pos
        elif whence == 1:
            self.pos += pos
        else:
            self.pos = self._fsize() + pos
        return self.pos

    def tell(self) -> int:
        return self.pos

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = max(0, self._fsize() - self.pos)
        b = pread(self.path, self.pos, n)
        self.pos += len(b)
        return b

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def close(self):
        pass


def open_seekable(path: str) -> SeekReader:
    return SeekReader(path)


# -- per-process scratch space -----------------------------------------------

_scratch_root: tuple[int, str] | None = None     # (owner pid, root dir)
_scratch_seq = itertools.count()
_scratch_lock = threading.Lock()


def scratch(suffix: str = "") -> str:
    """A fresh path (nothing exists there yet) ending in `suffix`, under
    this process's scratch root. The root is made on first use with
    tempfile.mkdtemp and removed by `remove_scratch` at interpreter exit,
    so callers never pre-clean or delete what they write there."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None or _scratch_root[0] != os.getpid():
            _scratch_root = (os.getpid(),
                             tempfile.mkdtemp(prefix="gdal_spark_"))
        root = _scratch_root[1]
    return os.path.join(root, f"{next(_scratch_seq)}{suffix}")


def remove_scratch() -> None:
    """Delete the scratch root this process made (a forked child never
    deletes its parent's); the next `scratch()` call starts a new one."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is not None and _scratch_root[0] == os.getpid():
            shutil.rmtree(_scratch_root[1], ignore_errors=True)
        _scratch_root = None


atexit.register(remove_scratch)
