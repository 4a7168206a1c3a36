"""Minimal Cloud-Optimized GeoTIFF writer/reader — pure Python + zlib.

Round-2 upgrade of the COG sink from "z-partitioned tile table" to an actual
COG *container*, re-deriving the layout rules of the reference's COG driver
(/root/reference/frmts/gtiff/cogdriver.cpp):

* classic little-endian TIFF, ALL IFDs at the head of the file (header
  ghost area), tile data after them — so a range-reader gets every offset
  from one initial fetch;
* full-resolution IFD first, overview IFDs following (NewSubfileType=1),
  each a 2x reduction (average), down to <= one tile;
* tile data ordered overview-first, full-res last (cogdriver writes
  "from the lowest resolution to the highest": a zoomed-out web client
  reads the head of the file only);
* tiled layout (TileWidth/TileLength 256), DEFLATE (zlib) or NONE
  compression; RGB or grayscale uint8;
* GeoTIFF georeferencing: ModelPixelScaleTag + ModelTiepointTag +
  GeoKeyDirectoryTag pinning EPSG:3857 (the web-mercator COGs the tiling
  engine produces).

The reader exists for round-trip verification (and is a legitimate
`identify` target for the codec registry: TIFF magic ``II*\\0``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

TILE = 256

# TIFF tag ids
_T_NEWSUBFILETYPE = 254
_T_WIDTH = 256
_T_LENGTH = 257
_T_BITSPERSAMPLE = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_SAMPLESPERPIXEL = 277
_T_PLANARCONFIG = 284
_T_STRIPOFFSETS = 273
_T_ROWSPERSTRIP = 278
_T_STRIPBYTECOUNTS = 279
_T_TILEWIDTH = 322
_T_TILELENGTH = 323
_T_TILEOFFSETS = 324
_T_TILEBYTECOUNTS = 325
_T_MODELPIXELSCALE = 33550
_T_MODELTIEPOINT = 33922
_T_GEOKEYDIR = 34735

_TYPE_SHORT = 3
_TYPE_LONG = 4
_TYPE_DOUBLE = 12

# GeoKey directory for EPSG:3857 (projected CS, meters)
_GEOKEYS_3857 = [
    (1, 1, 0, 7),        # version header: 4 keys follow
    (1024, 0, 1, 1),     # GTModelTypeGeoKey = Projected
    (1025, 0, 1, 1),     # GTRasterTypeGeoKey = PixelIsArea
    (3072, 0, 1, 3857),  # ProjectedCSTypeGeoKey = EPSG:3857
    (3076, 0, 1, 9001),  # ProjLinearUnitsGeoKey = metre
]


def _tile_grid(arr: np.ndarray):
    """Split (H, W[, C]) into 256^2 tiles (edge tiles zero-padded, TIFF
    convention). Returns (tiles_across, tiles_down, [tile bytes...])."""
    h, w = arr.shape[0], arr.shape[1]
    bands = arr.shape[2] if arr.ndim == 3 else 1
    ta = (w + TILE - 1) // TILE
    td = (h + TILE - 1) // TILE
    tiles = []
    for ty in range(td):
        for tx in range(ta):
            block = np.zeros((TILE, TILE, bands), dtype=np.uint8)
            sub = arr[ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE]
            if sub.ndim == 2:
                sub = sub[:, :, None]
            block[: sub.shape[0], : sub.shape[1], : sub.shape[2]] = sub
            raw = block.tobytes() if bands > 1 else block[:, :, 0].tobytes()
            tiles.append(raw)
    return ta, td, tiles


def _build_overviews(arr: np.ndarray):
    """2x average pyramid until the level fits one tile."""
    from ..oracle.resample import average_2x2

    levels = []
    cur = arr
    while cur.shape[0] > TILE or cur.shape[1] > TILE:
        h, w = cur.shape[0] & ~1, cur.shape[1] & ~1
        if h < 2 or w < 2:
            break
        cur = average_2x2(cur[:h, :w])
        levels.append(cur)
    return levels


class _IFD:
    def __init__(self, arr, subfile_type, compression, geo=None):
        self.arr = arr
        self.subfile_type = subfile_type
        self.compression = compression
        self.geo = geo
        self.ta, self.td, raw_tiles = _tile_grid(arr)
        if compression == 8:
            self.tiles = [zlib.compress(t, 6) for t in raw_tiles]
        else:
            self.tiles = raw_tiles
        self.bands = arr.shape[2] if arr.ndim == 3 else 1
        self.entries: list[tuple[int, int, int, bytes]] = []
        self.tile_offsets_pos = 0

    def n_entries(self):
        base = 12  # fixed tags incl. sampleformat
        if self.geo is not None:
            base += 3
        return base

    def size_of(self):
        """IFD byte size incl. out-of-line arrays (tile offsets/counts,
        bits-per-sample, geo doubles)."""
        n = self.n_entries()
        sz = 2 + n * 12 + 4
        ntiles = len(self.tiles)
        if ntiles > 1:
            sz += 4 * ntiles * 2  # offsets + bytecounts arrays
        if self.bands > 2:
            # BitsPerSample goes out-of-line only when its payload exceeds
            # the 4-byte inline value slot (2 shorts fit inline, so a
            # 2-band gray+alpha image stays inline — matching _arr_value).
            sz += 2 * self.bands
        if self.geo is not None:
            sz += 8 * 3 + 8 * 6 + 2 * 4 * len(_GEOKEYS_3857)
        return sz


def encode_cog(arr: np.ndarray, geotransform=None, compression: str = "deflate"
               ) -> bytes:
    """uint8 (H, W[, C]) -> COG bytes. ``geotransform``: 6-coeff affine in
    EPSG:3857 (None = ungeoreferenced plain tiled TIFF)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    comp = 8 if compression == "deflate" else 1
    ifds = [_IFD(arr, 0, comp, geo=geotransform)]
    for ov in _build_overviews(arr):
        ifds.append(_IFD(ov, 1, comp))

    # ---- layout pass: header, then all IFDs + their arrays, then tile data
    pos = 8
    ifd_pos = []
    for f in ifds:
        ifd_pos.append(pos)
        pos += f.size_of()
    data_start = pos
    # tile data: overviews first (lowest resolution first), full-res last
    order = list(range(len(ifds) - 1, -1, -1))
    tile_offsets: dict[int, list[int]] = {}
    for idx in order:
        offs = []
        for t in ifds[idx].tiles:
            offs.append(pos)
            pos += len(t)
        tile_offsets[idx] = offs

    # ---- emit
    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_pos[0])

    for i, f in enumerate(ifds):
        assert len(out) == ifd_pos[i]
        next_ifd = ifd_pos[i + 1] if i + 1 < len(ifds) else 0
        h, w = f.arr.shape[0], f.arr.shape[1]
        ntiles = len(f.tiles)
        # out-of-line area sits right after this IFD's entry table
        extra_pos = ifd_pos[i] + 2 + f.n_entries() * 12 + 4
        extra = bytearray()

        def _arr_value(values, typ):
            nonlocal extra
            fmtc = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[typ]
            unit = struct.calcsize("<" + fmtc)
            payload = struct.pack(f"<{len(values)}{fmtc}", *values)
            if len(payload) <= 4:
                return payload.ljust(4, b"\0")
            off = extra_pos + len(extra)
            extra += payload
            return struct.pack("<I", off)

        entries = []

        def tag(tid, typ, count, val_bytes):
            entries.append(struct.pack("<HHI4s", tid, typ, count, val_bytes))

        tag(_T_NEWSUBFILETYPE, _TYPE_LONG, 1, struct.pack("<I", f.subfile_type))
        tag(_T_WIDTH, _TYPE_LONG, 1, struct.pack("<I", w))
        tag(_T_LENGTH, _TYPE_LONG, 1, struct.pack("<I", h))
        tag(_T_BITSPERSAMPLE, _TYPE_SHORT, f.bands,
            _arr_value([8] * f.bands, _TYPE_SHORT))
        tag(_T_COMPRESSION, _TYPE_SHORT, 1, struct.pack("<HH", f.compression, 0))
        tag(_T_PHOTOMETRIC, _TYPE_SHORT, 1,
            struct.pack("<HH", 2 if f.bands >= 3 else 1, 0))
        tag(_T_SAMPLESPERPIXEL, _TYPE_SHORT, 1, struct.pack("<HH", f.bands, 0))
        tag(_T_PLANARCONFIG, _TYPE_SHORT, 1, struct.pack("<HH", 1, 0))
        tag(_T_TILEWIDTH, _TYPE_SHORT, 1, struct.pack("<HH", TILE, 0))
        tag(_T_TILELENGTH, _TYPE_SHORT, 1, struct.pack("<HH", TILE, 0))
        tag(_T_TILEOFFSETS, _TYPE_LONG, ntiles,
            _arr_value(tile_offsets[i], _TYPE_LONG))
        tag(_T_TILEBYTECOUNTS, _TYPE_LONG, ntiles,
            _arr_value([len(t) for t in f.tiles], _TYPE_LONG))
        if f.geo is not None:
            gt = f.geo
            tag(_T_MODELPIXELSCALE, _TYPE_DOUBLE, 3,
                _arr_value([abs(gt[1]), abs(gt[5]), 0.0], _TYPE_DOUBLE))
            tag(_T_MODELTIEPOINT, _TYPE_DOUBLE, 6,
                _arr_value([0.0, 0.0, 0.0, gt[0], gt[3], 0.0], _TYPE_DOUBLE))
            flat = [x for k in _GEOKEYS_3857 for x in k]
            tag(_T_GEOKEYDIR, _TYPE_SHORT, len(flat),
                _arr_value(flat, _TYPE_SHORT))

        entries.sort(key=lambda e: struct.unpack_from("<H", e, 0)[0])
        out += struct.pack("<H", len(entries))
        for e in entries:
            out += e
        out += struct.pack("<I", next_ifd)
        out += extra
        assert len(out) == ifd_pos[i] + f.size_of(), (i, len(out))

    assert len(out) == data_start
    for idx in order:
        for t in ifds[idx].tiles:
            out += t
    return bytes(out)


def encode_striped_tiff(arr: np.ndarray, geotransform=None,
                        rows_per_strip: int = 16,
                        compression: str = "deflate") -> bytes:
    """uint8 (H, W[, C]) -> plain STRIPED baseline TIFF (RowsPerStrip
    chunking — the layout gdal_translate writes by default and the single
    most common raster interchange file; the reference reads it via the
    strip path of frmts/gtiff/gtiffdataset.cpp:1566).  One IFD, strips
    after it, DEFLATE or NONE."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    bands = arr.shape[2] if arr.ndim == 3 else 1
    a3 = arr if arr.ndim == 3 else arr[:, :, None]
    comp = 8 if compression == "deflate" else 1
    strips = []
    for y in range(0, h, rows_per_strip):
        block = a3[y : y + rows_per_strip]
        raw = block.tobytes() if bands > 1 else block[:, :, 0].tobytes()
        strips.append(zlib.compress(raw, 6) if comp == 8 else raw)
    ns = len(strips)

    n_entries = 10 + (3 if geotransform is not None else 0)
    ifd_pos = 8
    extra_pos = ifd_pos + 2 + n_entries * 12 + 4
    extra = bytearray()

    def _arr_value(values, typ):
        nonlocal extra
        fmtc = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[typ]
        payload = struct.pack(f"<{len(values)}{fmtc}", *values)
        if len(payload) <= 4:
            return payload.ljust(4, b"\0")
        off = extra_pos + len(extra)
        extra += payload
        return struct.pack("<I", off)

    entries = []

    def tag(tid, typ, count, val_bytes):
        entries.append(struct.pack("<HHI4s", tid, typ, count, val_bytes))

    # strip offsets depend on the extra-area size, which depends on whether
    # the offset/bytecount arrays themselves go out-of-line — lay out the
    # non-strip extras first, then reserve the two arrays, then data.
    tag(_T_WIDTH, _TYPE_LONG, 1, struct.pack("<I", w))
    tag(_T_LENGTH, _TYPE_LONG, 1, struct.pack("<I", h))
    tag(_T_BITSPERSAMPLE, _TYPE_SHORT, bands,
        _arr_value([8] * bands, _TYPE_SHORT))
    tag(_T_COMPRESSION, _TYPE_SHORT, 1, struct.pack("<HH", comp, 0))
    tag(_T_PHOTOMETRIC, _TYPE_SHORT, 1,
        struct.pack("<HH", 2 if bands >= 3 else 1, 0))
    tag(_T_SAMPLESPERPIXEL, _TYPE_SHORT, 1, struct.pack("<HH", bands, 0))
    tag(_T_ROWSPERSTRIP, _TYPE_LONG, 1, struct.pack("<I", rows_per_strip))
    tag(_T_PLANARCONFIG, _TYPE_SHORT, 1, struct.pack("<HH", 1, 0))
    if geotransform is not None:
        gt = geotransform
        tag(_T_MODELPIXELSCALE, _TYPE_DOUBLE, 3,
            _arr_value([abs(gt[1]), abs(gt[5]), 0.0], _TYPE_DOUBLE))
        tag(_T_MODELTIEPOINT, _TYPE_DOUBLE, 6,
            _arr_value([0.0, 0.0, 0.0, gt[0], gt[3], 0.0], _TYPE_DOUBLE))
        flat = [x for k in _GEOKEYS_3857 for x in k]
        tag(_T_GEOKEYDIR, _TYPE_SHORT, len(flat), _arr_value(flat, _TYPE_SHORT))

    data_start = extra_pos + len(extra) + (4 * ns * 2 if ns > 1 else 0)
    offs = []
    pos = data_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    tag(_T_STRIPOFFSETS, _TYPE_LONG, ns, _arr_value(offs, _TYPE_LONG))
    tag(_T_STRIPBYTECOUNTS, _TYPE_LONG, ns,
        _arr_value([len(s) for s in strips], _TYPE_LONG))

    entries.sort(key=lambda e: struct.unpack_from("<H", e, 0)[0])
    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_pos)
    out += struct.pack("<H", len(entries))
    for e in entries:
        out += e
    out += struct.pack("<I", 0)
    out += extra
    assert len(out) == data_start, (len(out), data_start)
    for s in strips:
        out += s
    return bytes(out)


def _decode_strips(data: bytes, tags: dict, y0: int, y1: int):
    """Decode the strips covering rows [y0, y1) of a striped IFD
    (gtiffdataset.cpp:1566 strip chunking). Returns (rows array covering
    exactly [y0, y1), n_strips_read)."""
    w = tags[_T_WIDTH][0]
    h = tags[_T_LENGTH][0]
    bands = tags.get(_T_SAMPLESPERPIXEL, [1])[0]
    comp = tags.get(_T_COMPRESSION, [1])[0]
    offs = tags[_T_STRIPOFFSETS]
    cnts = tags[_T_STRIPBYTECOUNTS]
    rsp = tags.get(_T_ROWSPERSTRIP, [h])[0]
    s0, s1 = y0 // rsp, (y1 - 1) // rsp
    rows = []
    for si in range(s0, s1 + 1):
        raw = data[offs[si] : offs[si] + cnts[si]]
        if comp == 8:
            raw = zlib.decompress(raw)
        nrows = min(rsp, h - si * rsp)
        rows.append(np.frombuffer(raw, dtype=np.uint8).reshape(nrows, w, bands))
    block = rows[0] if len(rows) == 1 else np.concatenate(rows, axis=0)
    lo = y0 - s0 * rsp
    return block[lo : lo + (y1 - y0)], s1 - s0 + 1


def decode_cog(data: bytes, ifd_index: int = 0):
    """TIFF bytes -> (array, n_ifds, geotransform | None). Handles both
    the tiled COG layout and plain striped (RowsPerStrip) baseline TIFF —
    the reference reads either through the same block machinery
    (frmts/gtiff/gtiffdataset.cpp:1566)."""
    if data[:4] not in (b"II*\0",):
        raise ValueError("not a little-endian TIFF")
    (first_ifd,) = struct.unpack_from("<I", data, 4)
    ifd_offsets = []
    off = first_ifd
    while off:
        ifd_offsets.append(off)
        (n,) = struct.unpack_from("<H", data, off)
        (off,) = struct.unpack_from("<I", data, off + 2 + n * 12)
    tags = _read_ifd(data, ifd_offsets[ifd_index])
    w = tags[_T_WIDTH][0]
    h = tags[_T_LENGTH][0]
    bands = tags.get(_T_SAMPLESPERPIXEL, [1])[0]
    comp = tags.get(_T_COMPRESSION, [1])[0]
    if _T_TILEOFFSETS not in tags:  # striped layout
        arr, _ = _decode_strips(data, tags, 0, h)
    else:
        offs = tags[_T_TILEOFFSETS]
        cnts = tags[_T_TILEBYTECOUNTS]
        ta = (w + TILE - 1) // TILE
        td = (h + TILE - 1) // TILE
        full = np.zeros((td * TILE, ta * TILE, bands), dtype=np.uint8)
        for i, (o, c) in enumerate(zip(offs, cnts)):
            raw = data[o : o + c]
            if comp == 8:
                raw = zlib.decompress(raw)
            block = np.frombuffer(raw, dtype=np.uint8).reshape(TILE, TILE, bands)
            ty, tx = divmod(i, ta)
            full[ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE] = block
        arr = full[:h, :w]
    gt = None
    if _T_MODELPIXELSCALE in tags and _T_MODELTIEPOINT in tags:
        sx, sy = tags[_T_MODELPIXELSCALE][0], tags[_T_MODELPIXELSCALE][1]
        tp = tags[_T_MODELTIEPOINT]
        gt = [tp[3], sx, 0.0, tp[4], 0.0, -sy]
    return (arr[:, :, 0] if bands == 1 else arr), len(ifd_offsets), gt


def decode_cog_window(data: bytes, x0: int, y0: int, w: int, h: int,
                      ifd_index: int = 0):
    """Windowed read: decode ONLY the tiles the requested window touches —
    the RasterIO windowed-read semantics over the COG container
    (gcore/rasterio.cpp block-window intersection; the whole point of the
    COG layout is that a range reader fetches just these tile extents)."""
    (first_ifd,) = struct.unpack_from("<I", data, 4)
    ifd_offsets = []
    off = first_ifd
    while off:
        ifd_offsets.append(off)
        (n,) = struct.unpack_from("<H", data, off)
        (off,) = struct.unpack_from("<I", data, off + 2 + n * 12)
    tags = _read_ifd(data, ifd_offsets[ifd_index])
    iw = tags[_T_WIDTH][0]
    ih = tags[_T_LENGTH][0]
    bands = tags.get(_T_SAMPLESPERPIXEL, [1])[0]
    comp = tags.get(_T_COMPRESSION, [1])[0]
    x0 = max(0, x0)
    y0 = max(0, y0)
    x1 = min(iw, x0 + w)
    y1 = min(ih, y0 + h)
    if x1 <= x0 or y1 <= y0:
        return np.zeros((0, 0, bands), dtype=np.uint8), 0
    if _T_TILEOFFSETS not in tags:  # striped: only the strips [y0, y1) hits
        rows, n_strips = _decode_strips(data, tags, y0, y1)
        out = rows[:, x0:x1]
        return (out[:, :, 0] if bands == 1 else out), n_strips
    offs = tags[_T_TILEOFFSETS]
    cnts = tags[_T_TILEBYTECOUNTS]
    ta = (iw + TILE - 1) // TILE
    tx0, tx1 = x0 // TILE, (x1 - 1) // TILE
    ty0, ty1 = y0 // TILE, (y1 - 1) // TILE
    out = np.zeros((y1 - y0, x1 - x0, bands), dtype=np.uint8)
    n_tiles_read = 0
    for ty in range(ty0, ty1 + 1):
        for tx in range(tx0, tx1 + 1):
            i = ty * ta + tx
            raw = data[offs[i] : offs[i] + cnts[i]]
            if comp == 8:
                raw = zlib.decompress(raw)
            block = np.frombuffer(raw, dtype=np.uint8).reshape(TILE, TILE, bands)
            n_tiles_read += 1
            bx0, by0 = tx * TILE, ty * TILE
            sy0, sy1 = max(y0, by0), min(y1, by0 + TILE)
            sx0, sx1 = max(x0, bx0), min(x1, bx0 + TILE)
            out[sy0 - y0 : sy1 - y0, sx0 - x0 : sx1 - x0] = block[
                sy0 - by0 : sy1 - by0, sx0 - bx0 : sx1 - bx0
            ]
    return (out[:, :, 0] if bands == 1 else out), n_tiles_read


def _read_ifd(data: bytes, off: int) -> dict:
    (n,) = struct.unpack_from("<H", data, off)
    tags = {}
    for i in range(n):
        tid, typ, count = struct.unpack_from("<HHI", data, off + 2 + i * 12)
        valoff = off + 2 + i * 12 + 8
        fmtc = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}.get(typ)
        if fmtc is None:
            continue
        unit = struct.calcsize("<" + fmtc)
        total = unit * count
        if total <= 4:
            vals = struct.unpack_from(f"<{count}{fmtc}", data, valoff)
        else:
            (p,) = struct.unpack_from("<I", data, valoff)
            vals = struct.unpack_from(f"<{count}{fmtc}", data, p)
        tags[tid] = list(vals)
    return tags


def is_cog_layout(data: bytes) -> bool:
    """COG rule check: every IFD (and its arrays) precedes all tile data,
    and tile data is ordered lowest-resolution-first (cogdriver.cpp layout)."""
    if data[:4] != b"II*\0":
        return False
    (off,) = struct.unpack_from("<I", data, 4)
    ifd_tags = []
    ifd_end = 8
    while off:
        (n,) = struct.unpack_from("<H", data, off)
        tags = _read_ifd(data, off)
        ifd_tags.append(tags)
        # conservative IFD end: entry table end (out-of-line arrays follow)
        ifd_end = max(ifd_end, off + 2 + n * 12 + 4)
        (off,) = struct.unpack_from("<I", data, off + 2 + n * 12)
    firsts = [min(t[_T_TILEOFFSETS]) for t in ifd_tags]
    if any(f < ifd_end for f in firsts):
        return False
    # full-res (IFD 0) tiles must start after every overview's tiles
    return firsts[0] == max(firsts)
