"""Pure-Python GeoTIFF encode/decode (no GDAL dependency).

Re-expresses the reference's GeoTIFF sinks
(``/root/reference/geopyspark/geotrellis/layer.py:542-606, 1546-1610``
``to_geotiff_rdd``; ``layer.py:1981-2012`` ``save_stitched`` ->
``SpatialTiledRasterLayer.scala:320-361, 411-438``). The reference encodes
through GeoTrellis's GeoTiff writer; this engine writes baseline TIFF 6.0 +
the GeoTIFF 1.1 tag set directly (little-endian, single strip, optional
DEFLATE), which common readers (GDAL, QGIS, rasterio, tifffile) open as-is.

Encoder scope: float64/float32/int32/int16/uint8 samples,
pixel-interleaved bands, single-strip layout, none/DEFLATE.
Decoder scope (wider — the common wild-file baseline): strip OR tile
layout, none/DEFLATE/LZW/PackBits compression, horizontal-differencing
predictor (tag 317), uint8/int8/uint16/int16/int32/uint32/float32/
float64 samples, little- or big-endian classic TIFF. Enough that
``geotiff.get`` ingests typical externally-produced integer GeoTIFFs
without GDAL; BigTIFF (TIFF version 43, 8-byte offsets) reads and
writes through the same paths; PlanarConfiguration=2 (band-separate)
and 1/2/4-bit sub-byte pages (bilevel masks, low-depth palettes)
decode too. JPEG-in-TIFF decodes through the pure baseline decoder in
``jpeg_codec.py`` (new-style Compression=7 with shared JPEGTables, and
old-style Compression=6 via its whole-image interchange stream);
progressive/arithmetic/12-bit JPEG remain the rasterio seam.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..core.crs import normalize_crs
from ..core.extent import Extent

# TIFF tag ids
_IMAGE_WIDTH, _IMAGE_LENGTH = 256, 257
_BITS_PER_SAMPLE, _COMPRESSION, _PHOTOMETRIC = 258, 259, 262
_STRIP_OFFSETS, _SAMPLES_PER_PIXEL, _ROWS_PER_STRIP, _STRIP_BYTE_COUNTS = 273, 277, 278, 279
_PLANAR_CONFIG, _SAMPLE_FORMAT = 284, 339
_EXTRA_SAMPLES = 338
_PREDICTOR = 317
_TILE_WIDTH, _TILE_LENGTH, _TILE_OFFSETS, _TILE_BYTE_COUNTS = 322, 323, 324, 325
_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT, _GEO_KEY_DIRECTORY = 33550, 33922, 34735
_GDAL_NODATA = 42113
_TIFF_DATETIME = 306  # ASCII "yyyy:MM:dd HH:mm:ss" (TIFF 6.0 DateTime)
# JPEG-in-TIFF: new-style (Compression=7) shared tables + old-style
# (Compression=6) whole-image interchange stream (TIFF TechNote 2)
_JPEG_TABLES = 347
_JPEG_INTERCHANGE, _JPEG_INTERCHANGE_LEN = 513, 514

_TYPE_BYTE, _TYPE_UNDEFINED = 1, 7
_TYPE_SHORT, _TYPE_LONG, _TYPE_DOUBLE, _TYPE_ASCII = 3, 4, 12, 2
_TYPE_LONG8, _TYPE_SLONG8, _TYPE_IFD8 = 16, 17, 18  # BigTIFF (TIFF 43)
_TYPE_SIZE = {_TYPE_SHORT: 2, _TYPE_LONG: 4, _TYPE_DOUBLE: 8, _TYPE_ASCII: 1,
              _TYPE_BYTE: 1, _TYPE_UNDEFINED: 1,
              _TYPE_LONG8: 8, _TYPE_SLONG8: 8, _TYPE_IFD8: 8}

_DTYPES = {
    np.dtype("float64"): (64, 3),  # (bits, SampleFormat: 3=IEEE float)
    np.dtype("float32"): (32, 3),
    np.dtype("int32"): (32, 2),
    np.dtype("int16"): (16, 2),
    np.dtype("uint8"): (8, 1),
}
_FMT_DTYPE = {(bits, fmt): dt for dt, (bits, fmt) in _DTYPES.items()}

# decode-only sample types (common in wild files this codec never writes)
_FMT_DTYPE_DECODE = dict(_FMT_DTYPE)
_FMT_DTYPE_DECODE.update(
    {
        (16, 1): np.dtype("uint16"),
        (32, 1): np.dtype("uint32"),
        (8, 2): np.dtype("int8"),
    }
)


def _is_geographic(c: str, code: int) -> bool:
    """True when the CRS is geographic (lat/lon degrees) — GeoTIFF then
    needs GTModelType=2 + GeographicTypeGeoKey (2048), not the
    projected pair (r15 review: writing a geographic EPSG like 4269
    under ProjectedCSTypeGeoKey 3072 makes external readers resolve no
    CRS at all; our own decoder read it back symmetrically, so
    roundtrips could not catch it)."""
    try:
        from ..core.crs import crs_to_proj4

        return crs_to_proj4(c).lstrip().startswith("+proj=longlat")
    except Exception:
        # registry gap: EPSG reserves the 4000-4999 block for geodetic
        # (geographic 2D) CRSs — the practical discriminator
        return 4000 <= code <= 4999


def _geo_keys(crs: str) -> list[int]:
    c = normalize_crs(crs)
    # KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys, then
    # (KeyID, TIFFTagLocation=0 -> value inline, Count=1, Value)
    if c == "epsg:4326":
        keys = [(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, 4326)]
    elif c == "epsg:3857":
        keys = [(1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, 3857)]
    else:
        try:
            code = int(c.split(":")[-1])
        except ValueError:
            code = 32767  # user-defined
        if _is_geographic(c, code):
            keys = [(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, code)]
        else:
            keys = [(1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, code)]
    out = [1, 1, 0, len(keys)]
    for k in keys:
        out.extend(k)
    return out


_NEW_SUBFILE_TYPE = 254


def _build_segment(cells: np.ndarray, extent: Extent, crs: str,
                   nodata: float | None, compress: bool, base: int,
                   overview: bool, datetime_str: str | None = None,
                   big: bool = False) -> tuple[bytes, int]:
    """Build strip+aux+IFD bytes for one image page starting at absolute
    file offset ``base``. Returns (segment_bytes, ifd_offset). The IFD's
    next-IFD pointer is left zeroed at the segment's final 4 (classic) or
    8 (BigTIFF) bytes. ``big`` emits a BigTIFF IFD: 8-byte entry count,
    20-byte entries with an 8-byte inline window, LONG8 strip offset/
    byte-count so pages may sit beyond 4 GiB."""
    cells = np.asarray(cells)
    if cells.ndim == 2:
        cells = cells[None, :, :]
    bands, rows, cols = cells.shape
    if cells.dtype not in _DTYPES:
        cells = cells.astype(np.float64)
    bits, fmt = _DTYPES[cells.dtype]

    # pixel-interleave: (rows, cols, bands), little-endian
    pix = np.ascontiguousarray(np.moveaxis(cells, 0, -1)).astype(
        cells.dtype.newbyteorder("<"), copy=False
    )
    raw = pix.tobytes()
    data = zlib.compress(raw, 6) if compress else raw
    strip_len = len(data)           # byte count excludes the alignment pad
    if len(data) % 2:
        data += b"\0"

    cw = extent.width / cols
    ch = extent.height / rows

    entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, payload)

    def add(tag: int, typ: int, values) -> None:
        if typ == _TYPE_ASCII:
            payload = values.encode() + b"\0"
            entries.append((tag, typ, len(payload), payload))
            return
        pack = {_TYPE_SHORT: "<H", _TYPE_LONG: "<I", _TYPE_DOUBLE: "<d",
                _TYPE_LONG8: "<Q"}[typ]
        vs = values if isinstance(values, (list, tuple)) else [values]
        entries.append((tag, typ, len(vs), b"".join(struct.pack(pack, v) for v in vs)))

    strip_offset = base
    if overview:
        add(_NEW_SUBFILE_TYPE, _TYPE_LONG, 1)  # reduced-resolution page
    add(_IMAGE_WIDTH, _TYPE_LONG, cols)
    add(_IMAGE_LENGTH, _TYPE_LONG, rows)
    add(_BITS_PER_SAMPLE, _TYPE_SHORT, [bits] * bands)
    add(_COMPRESSION, _TYPE_SHORT, 8 if compress else 1)
    add(_PHOTOMETRIC, _TYPE_SHORT, 1)
    add(_STRIP_OFFSETS, _TYPE_LONG8 if big else _TYPE_LONG, strip_offset)
    add(_SAMPLES_PER_PIXEL, _TYPE_SHORT, bands)
    add(_ROWS_PER_STRIP, _TYPE_LONG, rows)
    add(_STRIP_BYTE_COUNTS, _TYPE_LONG8 if big else _TYPE_LONG, strip_len)
    add(_PLANAR_CONFIG, _TYPE_SHORT, 1)
    if bands > 1:
        # TIFF 6.0: Photometric=1 implies ONE sample; every further
        # sample must be described by ExtraSamples (0 = unspecified
        # data) or strict readers/validators reject the file (r15
        # review — our own decoder ignores photometric, so roundtrips
        # could not catch the omission)
        add(_EXTRA_SAMPLES, _TYPE_SHORT, [0] * (bands - 1))
    add(_SAMPLE_FORMAT, _TYPE_SHORT, [fmt] * bands)
    add(_MODEL_PIXEL_SCALE, _TYPE_DOUBLE, [cw, ch, 0.0])
    add(_MODEL_TIEPOINT, _TYPE_DOUBLE, [0.0, 0.0, 0.0, extent.xmin, extent.ymax, 0.0])
    add(_GEO_KEY_DIRECTORY, _TYPE_SHORT, _geo_keys(crs))
    if nodata is not None:
        nd = int(nodata) if float(nodata).is_integer() else nodata
        add(_GDAL_NODATA, _TYPE_ASCII, str(nd))
    if datetime_str is not None:
        add(_TIFF_DATETIME, _TYPE_ASCII, datetime_str)

    # layout within the segment: strip | out-of-line tag values | IFD
    inline_max = 8 if big else 4
    aux_offset = strip_offset + len(data)
    aux = bytearray()
    placed = []
    for tag, typ, count, payload in sorted(entries):
        size = count * _TYPE_SIZE[typ]
        if size <= inline_max:
            placed.append((tag, typ, count, payload.ljust(inline_max, b"\0"),
                           None))
        else:
            placed.append((tag, typ, count, None, aux_offset + len(aux)))
            aux.extend(payload)
            if len(aux) % 2:  # word-align
                aux.extend(b"\0")
    ifd_offset = aux_offset + len(aux)
    ifd_entries = b""
    off_fmt = "<Q" if big else "<I"
    for tag, typ, count, inline, off in placed:
        val = inline if inline is not None else struct.pack(off_fmt, off)
        if big:
            ifd_entries += struct.pack("<HHQ", tag, typ, count) + val
        else:
            ifd_entries += struct.pack("<HHI", tag, typ, count) + val
    if big:
        ifd = struct.pack("<Q", len(placed)) + ifd_entries + struct.pack("<Q", 0)
    else:
        ifd = struct.pack("<H", len(placed)) + ifd_entries + struct.pack("<I", 0)
    return data + bytes(aux) + ifd, ifd_offset


def encode_geotiff(cells: np.ndarray, extent: Extent, crs: str,
                   nodata: float | None = None, compress: bool = True,
                   datetime_str: str | None = None,
                   bigtiff: bool | None = None) -> bytes:
    """Encode a (bands, rows, cols) array as GeoTIFF bytes. Pass
    ``datetime_str`` ("yyyy:MM:dd HH:mm:ss") to stamp the TIFF DateTime
    tag — the timestamp source for SPACETIME ``geotiff.get`` ingest.

    ``bigtiff``: True writes BigTIFF (TIFF version 43, 8-byte offsets —
    required once any offset would exceed 4 GiB); False forces classic;
    None (default) auto-selects BigTIFF when the raw page data alone
    approaches the 4 GiB classic ceiling."""
    if bigtiff is None:
        arr = np.asarray(cells)
        # size the estimate with the dtype the encoder will WRITE
        # (unsupported dtypes upcast to float64) - a blanket 8 bytes
        # would flip a 0.6 GB uint8 raster to BigTIFF 8x below the
        # real classic-offset ceiling
        item = arr.dtype.itemsize if arr.dtype in _DTYPES else 8
        bigtiff = int(arr.size) * item > 2 ** 32 - 2 ** 16
    base = 16 if bigtiff else 8
    seg, ifd_offset = _build_segment(cells, extent, crs, nodata, compress,
                                     base, False, datetime_str, big=bigtiff)
    if bigtiff:
        return struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_offset) + seg
    return struct.pack("<2sHI", b"II", 42, ifd_offset) + seg


def read_datetime(buf: bytes) -> str | None:
    """The page-0 TIFF DateTime tag string, or None if absent."""
    try:
        bo, big, off = _tiff_header(buf)
    except ValueError:
        return None
    tags, _ = _read_ifd(buf, bo, off, big)
    vals = tags.get(_TIFF_DATETIME)
    return vals[0] if vals else None


def encode_geotiff_with_overviews(levels: list[tuple[np.ndarray, Extent]], crs: str,
                                  nodata: float | None = None,
                                  compress: bool = True) -> bytes:
    """Cloud-optimized-style GeoTIFF: full-resolution first IFD + chained
    reduced-resolution overview IFDs (NewSubfileType=1), the overview
    structure of the reference's COG export (``catalog.write use_cogs``,
    ``to_geotiff_rdd`` overview decimations ``TileLayer.scala:44-114``).
    ``levels`` is ordered finest -> coarsest."""
    if not levels:
        raise ValueError("need at least one level")
    segments: list[bytes] = []
    ifd_offsets: list[int] = []
    base = 8
    for i, (cells, extent) in enumerate(levels):
        seg, ifd_off = _build_segment(cells, extent, crs, nodata, compress, base, i > 0)
        segments.append(seg)
        ifd_offsets.append(ifd_off)
        base += len(seg)
        if base > 0xFFFFFFFF:
            # named error instead of an opaque struct.error deep in the
            # offset packing (r15 review); the single-page encoder
            # auto-upgrades to BigTIFF, the multi-IFD overview chain
            # does not (classic-TIFF LONG offsets only)
            raise ValueError(
                "encode_geotiff_with_overviews: cumulative size "
                f"{base} bytes exceeds the classic-TIFF 4 GiB offset "
                "ceiling; write fewer/smaller levels or use the "
                "single-page encode_geotiff (which auto-selects "
                "BigTIFF)")
    # chain next-IFD pointers (last 4 bytes of each segment)
    for i in range(len(segments) - 1):
        segments[i] = segments[i][:-4] + struct.pack("<I", ifd_offsets[i + 1])
    return struct.pack("<2sHI", b"II", 42, ifd_offsets[0]) + b"".join(segments)


def decode_geotiff(buf: bytes):
    """Decode GeoTIFF bytes -> (cells[bands,rows,cols], Extent, crs, nodata).

    Little/big-endian classic TIFF, strip or tile layout, Compression 1
    (none), 5 (LZW), 8/32946 (DEFLATE), 32773 (PackBits), optional
    horizontal predictor, PlanarConfig 1 — the common external baseline,
    not just this module's own output.
    """
    bo, big, ifd_offset = _tiff_header(buf)
    tags, _next = _read_ifd(buf, bo, ifd_offset, big)
    return _decode_page(buf, bo, tags)


def decode_geotiff_pages(buf: bytes):
    """Walk the full IFD chain: [(cells, extent, crs, nodata), ...] — page 0
    is full resolution, later pages the overview levels."""
    bo, big, off = _tiff_header(buf)
    pages = []
    while off:
        tags, off = _read_ifd(buf, bo, off, big)
        pages.append(_decode_page(buf, bo, tags))
    return pages


def _tiff_header(buf: bytes) -> tuple[str, bool, int]:
    """Parse the file header -> (byte order, is_bigtiff, first IFD
    offset). Classic TIFF is version 42 with 4-byte offsets; BigTIFF
    (version 43) declares 8-byte offsets and a zero pad word, then an
    8-byte first-IFD offset."""
    bo = {b"II": "<", b"MM": ">"}.get(buf[:2])
    if bo is None:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (ver,) = struct.unpack(bo + "H", buf[2:4])
    if ver == 42:
        (off,) = struct.unpack(bo + "I", buf[4:8])
        return bo, False, off
    if ver == 43:
        osize, pad = struct.unpack(bo + "HH", buf[4:8])
        if osize != 8 or pad != 0:
            raise ValueError(
                f"BigTIFF with offset size {osize} / pad {pad}; the "
                "specification requires 8 / 0")
        (off,) = struct.unpack(bo + "Q", buf[8:16])
        return bo, True, off
    raise ValueError(f"not a TIFF (version {ver})")


def _read_ifd(buf: bytes, bo: str, ifd_offset: int, big: bool = False):
    """One IFD -> (tags, next_ifd_offset). Handles classic 12-byte and
    BigTIFF 20-byte entries (8-byte counts/offsets, 8-byte inline
    payload window, LONG8/SLONG8/IFD8 value types)."""
    if big:
        (n,) = struct.unpack(bo + "Q", buf[ifd_offset:ifd_offset + 8])
        head, esz, inline_max = 8, 20, 8
    else:
        (n,) = struct.unpack(bo + "H", buf[ifd_offset:ifd_offset + 2])
        head, esz, inline_max = 2, 12, 4
    tags: dict[int, list] = {}
    for i in range(n):
        e = ifd_offset + head + esz * i
        if big:
            tag, typ = struct.unpack(bo + "HH", buf[e:e + 4])
            (count,) = struct.unpack(bo + "Q", buf[e + 4:e + 12])
            vpos = e + 12
        else:
            tag, typ, count = struct.unpack(bo + "HHI", buf[e:e + 8])
            vpos = e + 8
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= inline_max:
            payload = buf[vpos:vpos + size]
        else:
            (off,) = struct.unpack(bo + ("Q" if big else "I"),
                                   buf[vpos:vpos + (8 if big else 4)])
            payload = buf[off:off + size]
        if typ == _TYPE_ASCII:
            tags[tag] = [payload.rstrip(b"\0").decode()]
        elif typ in (_TYPE_BYTE, _TYPE_UNDEFINED):
            tags[tag] = [bytes(payload)]  # raw blob (e.g. JPEGTables)
        else:
            pack = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d",
                    _TYPE_LONG8: "Q", _TYPE_SLONG8: "q",
                    _TYPE_IFD8: "Q"}.get(typ)
            if pack:
                tags[tag] = list(struct.unpack(f"{bo}{count}{pack}", payload))
    nxt_pos = ifd_offset + head + esz * n
    (nxt,) = struct.unpack(bo + ("Q" if big else "I"),
                           buf[nxt_pos:nxt_pos + (8 if big else 4)])
    return tags, nxt


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (Compression=5): MSB-first codes, ClearCode=256,
    EOI=257, 9->12-bit code widths with the TIFF 'early change' (the
    width grows when the NEXT table slot is 2^width - 1). Clean-room from
    the TIFF 6.0 spec §13."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitpos, nbits = 0, 9
    total_bits = len(data) * 8
    table: list[bytes] = []
    prev: bytes | None = None
    while True:
        if bitpos + nbits > total_bits:
            break  # truncated stream without EOI: tolerate (common in the wild)
        b0 = bitpos // 8
        b1 = (bitpos + nbits + 7) // 8
        chunk = int.from_bytes(data[b0:b1], "big")
        code = (chunk >> (b1 * 8 - bitpos - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits, prev = 9, None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt LZW stream (code before CLEAR)")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream (code gap)")
            table.append(prev + entry[:1])
            if len(table) == (1 << nbits) - 1 and nbits < 12:
                nbits += 1
        out += entry
        prev = entry
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (Compression=32773), TIFF 6.0 spec §9."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _decompress_segment(chunk: bytes, comp: int, tags: dict | None = None) -> bytes:
    if comp == 1:
        return chunk
    if comp in (8, 32946):  # DEFLATE (Adobe + legacy code)
        return zlib.decompress(chunk)
    if comp == 5:
        return _lzw_decode(chunk)
    if comp == 32773:
        return _packbits_decode(chunk)
    if comp == 7:
        # new-style JPEG-in-TIFF (TechNote 2): each segment is an
        # abbreviated baseline stream; shared tables ride in tag 347.
        # The decoder returns (h, w, comps) uint8, whose row-major
        # band-interleaved bytes are exactly the uncompressed segment
        # layout the strip/tile paths expect.
        from .jpeg_codec import decode_baseline

        t = tags or {}
        jt = t.get(_JPEG_TABLES)
        pm = int(t.get(_PHOTOMETRIC, [1])[0])
        ycc = True if pm == 6 else (False if pm == 2 else None)
        return decode_baseline(
            chunk, tables=jt[0] if jt else None, ycbcr_to_rgb=ycc
        ).tobytes()
    if comp == 6:
        raise ValueError(
            "old-style JPEG-in-TIFF (Compression=6) is only supported "
            "through its whole-image JPEGInterchangeFormat stream "
            "(tag 513), which this file lacks; re-write with GDAL "
            "(new-style Compression=7) or read via rasterio")
    raise ValueError(f"unsupported compression {comp}")


def _unpredict(arr: np.ndarray, predictor: int) -> np.ndarray:
    """Invert the horizontal-differencing predictor (tag 317 = 2) on a
    (rows, cols, bands) integer array — cumulative sum along columns with
    the dtype's natural modular wraparound."""
    if predictor == 1:
        return arr
    if predictor != 2:
        raise ValueError(f"unsupported predictor {predictor}")
    if arr.dtype.kind not in "iu":
        raise ValueError("predictor=2 requires an integer sample type")
    arr = np.ascontiguousarray(arr)
    np.add.accumulate(arr, axis=1, dtype=arr.dtype, out=arr)
    return arr


def _decode_page(buf: bytes, bo: str, tags: dict):
    cols = int(tags[_IMAGE_WIDTH][0])
    rows = int(tags[_IMAGE_LENGTH][0])
    bands = int(tags.get(_SAMPLES_PER_PIXEL, [1])[0])
    comp = int(tags.get(_COMPRESSION, [1])[0])
    bits = int(tags.get(_BITS_PER_SAMPLE, [32])[0])
    fmt = int(tags.get(_SAMPLE_FORMAT, [1])[0])
    predictor = int(tags.get(_PREDICTOR, [1])[0])
    planar = int(tags.get(_PLANAR_CONFIG, [1])[0])
    if bits in (1, 2, 4):
        return _decode_page_subbyte(buf, tags, rows, cols, bands, comp,
                                    bits, fmt, predictor) + _page_geo(tags, rows, cols)
    if comp == 6 and _JPEG_INTERCHANGE in tags:
        # old-style JPEG-in-TIFF: one full interchange stream for the
        # whole page (tags 513/514) — decode it directly, ignoring the
        # (often bogus) strip structure, as readers are advised to
        from .jpeg_codec import decode_baseline

        off = int(tags[_JPEG_INTERCHANGE][0])
        ln = int(tags.get(_JPEG_INTERCHANGE_LEN, [len(buf) - off])[0])
        pm = int(tags.get(_PHOTOMETRIC, [1])[0])
        arr = decode_baseline(
            buf[off:off + ln],
            ycbcr_to_rgb=True if pm == 6 else (False if pm == 2 else None))
        if arr.shape[0] < rows or arr.shape[1] < cols:
            raise ValueError(
                f"old-style JPEG stream decodes {arr.shape[:2]}, "
                f"smaller than the page {rows}x{cols}")
        cells = np.moveaxis(arr[:rows, :cols, :], -1, 0)
        return (cells,) + _page_geo(tags, rows, cols)
    if comp in (6, 7) and (bits != 8 or fmt != 1):
        raise ValueError(
            f"JPEG-in-TIFF requires 8-bit unsigned samples, "
            f"got bits={bits} format={fmt}")
    dtype = _FMT_DTYPE_DECODE.get((bits, fmt))
    if dtype is None:
        raise ValueError(f"unsupported sample type bits={bits} format={fmt}")
    if planar not in (1, 2):
        raise ValueError(f"PlanarConfiguration={planar} is not a TIFF value")
    rdtype = np.dtype(dtype).newbyteorder(bo)

    if _TILE_OFFSETS in tags:
        # tiled layout (tags 322-325): decode each tile, unpredict within
        # the tile, place into the image grid, crop ragged edges. For
        # PlanarConfiguration=2 the tile sequence repeats per band
        # (band 0's tiles first), each tile carrying ONE band's samples.
        tw = int(tags[_TILE_WIDTH][0])
        th = int(tags[_TILE_LENGTH][0])
        across = (cols + tw - 1) // tw
        down = (rows + th - 1) // th
        per_band = across * down
        tile_bands = 1 if planar == 2 else bands
        pix = np.zeros((rows, cols, bands), dtype=dtype)
        for idx, (off, cnt) in enumerate(
            zip(tags[_TILE_OFFSETS], tags[_TILE_BYTE_COUNTS])
        ):
            data = _decompress_segment(buf[int(off) : int(off) + int(cnt)], comp, tags)
            tile = np.frombuffer(data, dtype=rdtype, count=th * tw * tile_bands)
            tile = _unpredict(
                tile.reshape(th, tw, tile_bands).astype(dtype), predictor
            )
            gi = idx % per_band if planar == 2 else idx
            r0 = (gi // across) * th
            c0 = (gi % across) * tw
            h = min(th, rows - r0)
            w = min(tw, cols - c0)
            if planar == 2:
                pix[r0 : r0 + h, c0 : c0 + w, idx // per_band] = tile[:h, :w, 0]
            else:
                pix[r0 : r0 + h, c0 : c0 + w] = tile[:h, :w]
    elif planar == 2 and bands > 1:
        # band-separate strips: the strip list runs band 0's strips
        # first, then band 1's, ... (TIFF 6.0 PlanarConfiguration=2)
        offs = tags[_STRIP_OFFSETS]
        cnts = tags[_STRIP_BYTE_COUNTS]
        if len(offs) % bands:
            raise ValueError(
                f"planar=2: {len(offs)} strips not divisible by {bands} bands")
        per_band = len(offs) // bands
        pix = np.empty((rows, cols, bands), dtype=dtype)
        for b in range(bands):
            data = b""
            for k in range(per_band):
                off, cnt = offs[b * per_band + k], cnts[b * per_band + k]
                data += _decompress_segment(
                    buf[int(off) : int(off) + int(cnt)], comp, tags)
            plane = np.frombuffer(data, dtype=rdtype, count=rows * cols).reshape(
                rows, cols, 1
            )
            pix[:, :, b] = _unpredict(plane.astype(dtype), predictor)[:, :, 0]
    else:
        data = b""
        for off, cnt in zip(tags[_STRIP_OFFSETS], tags[_STRIP_BYTE_COUNTS]):
            data += _decompress_segment(buf[int(off) : int(off) + int(cnt)], comp, tags)
        pix = np.frombuffer(data, dtype=rdtype, count=rows * cols * bands).reshape(
            rows, cols, bands
        )
        pix = _unpredict(pix.astype(dtype), predictor)
    cells = np.moveaxis(pix, -1, 0).astype(dtype)

    extent, crs, nodata = _page_geo(tags, rows, cols)
    return cells, extent, crs, nodata


def _page_geo(tags: dict, rows: int, cols: int):
    """(extent, crs, nodata) from a page's georeferencing tags."""
    extent = None
    if _MODEL_PIXEL_SCALE in tags and _MODEL_TIEPOINT in tags:
        cw, ch = tags[_MODEL_PIXEL_SCALE][:2]
        tp = tags[_MODEL_TIEPOINT]
        xmin, ymax = tp[3] - tp[0] * cw, tp[4] + tp[1] * ch
        extent = Extent(xmin, ymax - rows * ch, xmin + cols * cw, ymax)

    crs = None
    if _GEO_KEY_DIRECTORY in tags:
        g = tags[_GEO_KEY_DIRECTORY]
        keys = {g[i]: g[i + 3] for i in range(4, len(g), 4)}
        if 2048 in keys:
            crs = f"epsg:{keys[2048]}"
        elif 3072 in keys:
            crs = f"epsg:{keys[3072]}"

    nodata = None
    if _GDAL_NODATA in tags:
        nodata = float(tags[_GDAL_NODATA][0])
    return extent, crs, nodata


def _expand_subbyte(seg: bytes, bits: int, seg_rows: int, seg_cols: int) -> np.ndarray:
    """Unpack a 1/2/4-bit sample block (MSB-first within each byte, rows
    padded to a byte boundary — TIFF 6.0 bilevel/grayscale packing) to a
    (seg_rows, seg_cols) uint8 array."""
    stride = (seg_cols * bits + 7) // 8
    arr = np.frombuffer(seg, dtype=np.uint8, count=seg_rows * stride).reshape(
        seg_rows, stride)
    if bits == 1:
        vals = np.unpackbits(arr, axis=1)
    elif bits == 4:
        vals = np.stack([arr >> 4, arr & 0x0F], axis=-1).reshape(seg_rows, -1)
    else:  # 2
        vals = np.stack(
            [(arr >> 6) & 3, (arr >> 4) & 3, (arr >> 2) & 3, arr & 3],
            axis=-1).reshape(seg_rows, -1)
    return vals[:, :seg_cols]


def _decode_page_subbyte(buf: bytes, tags: dict, rows: int, cols: int,
                         bands: int, comp: int, bits: int, fmt: int,
                         predictor: int):
    """1/2/4-bit pages (bilevel masks, low-depth palettes) -> uint8
    cells with the STORED sample values (no PhotometricInterpretation
    inversion — this is a data engine, GDAL-style). Single band only;
    sub-byte multi-sample files are vanishingly rare and rejected."""
    if bands != 1:
        raise ValueError(f"{bits}-bit samples with {bands} bands unsupported")
    if fmt != 1:
        raise ValueError(f"{bits}-bit samples must be unsigned (format {fmt})")
    if predictor != 1:
        raise ValueError(f"predictor {predictor} invalid for {bits}-bit data")
    if _TILE_OFFSETS in tags:
        tw = int(tags[_TILE_WIDTH][0])
        th = int(tags[_TILE_LENGTH][0])
        across = (cols + tw - 1) // tw
        out = np.zeros((rows, cols), dtype=np.uint8)
        for idx, (off, cnt) in enumerate(
            zip(tags[_TILE_OFFSETS], tags[_TILE_BYTE_COUNTS])
        ):
            seg = _decompress_segment(buf[int(off) : int(off) + int(cnt)], comp, tags)
            tile = _expand_subbyte(seg, bits, th, tw)
            r0 = (idx // across) * th
            c0 = (idx % across) * tw
            h = min(th, rows - r0)
            w = min(tw, cols - c0)
            out[r0 : r0 + h, c0 : c0 + w] = tile[:h, :w]
        return (out[None, :, :],)
    rps = int(tags.get(_ROWS_PER_STRIP, [rows])[0])
    chunks = []
    r = 0
    for off, cnt in zip(tags[_STRIP_OFFSETS], tags[_STRIP_BYTE_COUNTS]):
        seg = _decompress_segment(buf[int(off) : int(off) + int(cnt)], comp, tags)
        h = min(rps, rows - r)
        chunks.append(_expand_subbyte(seg, bits, h, cols))
        r += h
    return (np.vstack(chunks)[None, :, :],)


class _SegmentReader:
    """Random access over a TIFF's byte source: whole ``bytes`` in
    memory, a file path read with seek/read, or an object-store URI read
    with HTTP Range requests (``sources/objectstore.py``) — in every
    case only the header, IFD and the REQUESTED segments ever leave the
    store; the partial-IO primitive behind
    :func:`decode_geotiff_window`."""

    def __init__(self, src):
        self._buf = src if isinstance(src, (bytes, bytearray)) else None
        self._path = None
        self._uri = None
        if self._buf is None:
            from .objectstore import is_object_uri

            if is_object_uri(src):
                self._uri = src
            else:
                self._path = src

    def read(self, off: int, size: int) -> bytes:
        if self._buf is not None:
            return bytes(self._buf[off:off + size])
        if self._uri is not None:
            from . import objectstore

            return objectstore.get_range(self._uri, off, size)
        with open(self._path, "rb") as f:
            f.seek(off)
            return f.read(size)

    def head(self, size: int = 1 << 20) -> bytes:
        """Enough leading bytes for header + IFD + out-of-line tag
        values (tag payloads are written near the IFD by every common
        writer; 1 MiB covers even thousand-strip files). Falls back to
        the whole file if an IFD points beyond it."""
        if self._buf is not None:
            return bytes(self._buf)
        if self._uri is not None:
            return self.read(0, size)
        with open(self._path, "rb") as f:
            data = f.read(size)
        return data

    def whole(self) -> bytes:
        if self._buf is not None:
            return bytes(self._buf)
        if self._uri is not None:
            from . import objectstore

            return objectstore.get_all(self._uri)
        with open(self._path, "rb") as f:
            return f.read()


def _parse_window_meta(rd: "_SegmentReader"):
    head = rd.head()
    try:
        bo, big, off0 = _tiff_header(head)
        tags, _ = _read_ifd(head, bo, off0, big)
    except (ValueError, IndexError, struct.error):
        # IFD beyond the head window (writer put it at EOF with big
        # data first) — fall back to a whole read for the METADATA only
        whole = rd.whole()
        bo, big, off0 = _tiff_header(whole)
        tags, _ = _read_ifd(whole, bo, off0, big)
    return bo, big, tags


from functools import lru_cache as _meta_lru


@_meta_lru(maxsize=256)
def _cached_window_meta(path: str, mtime: float, size: int):
    return _parse_window_meta(_SegmentReader(path))


def decode_geotiff_window(src, window, band: int) -> np.ndarray:
    """Decode ONE (c0, r0, w, h) window of ONE band, reading and
    decompressing only the strips/tiles that intersect it — the
    partial-read path for the no-GDAL ``geotiff.get`` seam. ``src`` is
    a path (segment-level file IO via seek/read) or in-memory bytes.

    Scale contract: IO and decode cost are proportional to the
    intersected segments, not the raster — a 100k x 100k tiled BigTIFF
    window read touches a handful of tiles. Requires >= 8-bit samples;
    sub-byte pages fall back to :func:`decode_geotiff` (they are small
    bilevel masks in practice).
    """
    rd = _SegmentReader(src)
    if rd._path is not None:
        # per-(path, mtime, size) metadata cache: repeated window reads
        # of the same file must not re-read and re-parse the header +
        # IFD each call (a thousand-window scan would otherwise spend
        # more IO on metadata than on the requested segments)
        import os as _osm

        st = _osm.stat(rd._path)
        bo, big, tags = _cached_window_meta(rd._path, st.st_mtime,
                                            st.st_size)
    elif rd._uri is not None:
        # cache the header+IFD per URI, validated by a cheap HEAD
        # Content-Length so an object overwritten at the same URI with
        # a different length invalidates (ADVICE r11); same-length
        # overwrites remain undetectable (clear_decode_cache)
        bo, big, tags = _cached_window_meta(rd._uri,
                                            *_object_cache_key(rd._uri))
    else:
        bo, big, tags = _parse_window_meta(rd)
    cols = int(tags[_IMAGE_WIDTH][0])
    rows = int(tags[_IMAGE_LENGTH][0])
    bands = int(tags.get(_SAMPLES_PER_PIXEL, [1])[0])
    comp = int(tags.get(_COMPRESSION, [1])[0])
    bits = int(tags.get(_BITS_PER_SAMPLE, [32])[0])
    fmt = int(tags.get(_SAMPLE_FORMAT, [1])[0])
    predictor = int(tags.get(_PREDICTOR, [1])[0])
    planar = int(tags.get(_PLANAR_CONFIG, [1])[0])
    c0, r0, w, h = (int(v) for v in window)
    if not (0 <= band < bands):
        raise ValueError(f"band {band} out of range ({bands} bands)")
    if not (0 <= c0 and 0 <= r0 and c0 + w <= cols and r0 + h <= rows):
        raise ValueError(f"window {window} outside raster {cols}x{rows}")
    if bits in (1, 2, 4):
        cells, _, _, _ = decode_geotiff(rd.whole())
        return cells[band, r0:r0 + h, c0:c0 + w].copy()
    dtype = _FMT_DTYPE_DECODE.get((bits, fmt))
    if dtype is None:
        raise ValueError(f"unsupported sample type bits={bits} format={fmt}")
    rdtype = np.dtype(dtype).newbyteorder(bo)
    out = np.zeros((h, w), dtype=dtype)

    if _TILE_OFFSETS in tags:
        tw = int(tags[_TILE_WIDTH][0])
        th = int(tags[_TILE_LENGTH][0])
        across = (cols + tw - 1) // tw
        down = (rows + th - 1) // th
        per_band = across * down
        tile_bands = 1 if planar == 2 else bands
        base = band * per_band if planar == 2 else 0
        offs, cnts = tags[_TILE_OFFSETS], tags[_TILE_BYTE_COUNTS]
        for tr in range(r0 // th, (r0 + h - 1) // th + 1):
            for tc in range(c0 // tw, (c0 + w - 1) // tw + 1):
                idx = base + tr * across + tc
                seg = _decompress_segment(
                    rd.read(int(offs[idx]), int(cnts[idx])), comp, tags)
                tile = np.frombuffer(seg, dtype=rdtype,
                                     count=th * tw * tile_bands)
                tile = _unpredict(
                    tile.reshape(th, tw, tile_bands).astype(dtype), predictor)
                plane = tile[:, :, 0 if planar == 2 else band]
                # intersection of this tile with the window
                rr0 = max(r0, tr * th)
                rr1 = min(r0 + h, tr * th + th, rows)
                cc0 = max(c0, tc * tw)
                cc1 = min(c0 + w, tc * tw + tw, cols)
                out[rr0 - r0:rr1 - r0, cc0 - c0:cc1 - c0] =                     plane[rr0 - tr * th:rr1 - tr * th,
                          cc0 - tc * tw:cc1 - tc * tw]
        return out

    rps = int(tags.get(_ROWS_PER_STRIP, [rows])[0])
    offs, cnts = tags[_STRIP_OFFSETS], tags[_STRIP_BYTE_COUNTS]
    if planar == 2 and bands > 1:
        per_band = len(offs) // bands
        base = band * per_band
        strip_bands = 1
    else:
        per_band = len(offs)
        base = 0
        strip_bands = bands
    for si in range(r0 // rps, (r0 + h - 1) // rps + 1):
        seg = _decompress_segment(
            rd.read(int(offs[base + si]), int(cnts[base + si])), comp, tags)
        sh = min(rps, rows - si * rps)
        strip = np.frombuffer(seg, dtype=rdtype, count=sh * cols * strip_bands)
        strip = _unpredict(
            strip.reshape(sh, cols, strip_bands).astype(dtype), predictor)
        plane = strip[:, :, 0 if strip_bands == 1 else band]
        rr0 = max(r0, si * rps)
        rr1 = min(r0 + h, si * rps + sh)
        out[rr0 - r0:rr1 - r0, :] = plane[rr0 - si * rps:rr1 - si * rps,
                                          c0:c0 + w]
    return out


# --- layer-level sinks ------------------------------------------------------

def to_geotiff_rdd(layer, compress: bool = True):
    """Encode every tile of a layer as in-memory GeoTIFF bytes ->
    DataFrame (key_col, key_row[, instant], tiff binary). Multiband tiles
    are assembled per key (band rows gathered in one groupBy)."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType, IntegerType, StructField, StructType,
    )

    from ..core.keys import KeyTransform

    md = layer.metadata
    kt = KeyTransform(md.layout)
    tl = md.layout.tile_layout
    tc, tr = tl.tile_cols, tl.tile_rows
    crs, nodata, cell_type = md.crs, md.nodata, md.cell_type
    # export in the LAYER'S cell type (r15 review: forcing float64 made
    # a uint8 land-cover layer 8x the bytes and broke consumers
    # expecting Byte rasters; the reference writer encodes in the layer
    # cell type). Types the encoder lacks fall back to float64 exactly
    # as before; NaN-marked nodata maps back to the sentinel first so
    # integer casts are well-defined.
    from ..core.celltype import parse_cell_type

    try:
        out_dtype = np.dtype(parse_cell_type(md.cell_type).dtype)
    except Exception:
        out_dtype = np.dtype("float64")
    if out_dtype not in _DTYPES:
        out_dtype = np.dtype("float64")

    schema = StructType([
        StructField("key_col", IntegerType()),
        StructField("key_row", IntegerType()),
        StructField("tiff", BinaryType()),
    ])

    def encode(key, pdf):
        kc, kr = int(key[0]), int(key[1])
        pdf = pdf.sort_values("band")
        cells = np.stack(
            [np.asarray(c, dtype=np.float64).reshape(tr, tc) for c in pdf["cells"]]
        )
        if out_dtype.kind in "iu":
            if nodata is not None:
                cells = np.where(np.isnan(cells), nodata, cells)
            elif np.isnan(cells).any():
                # integer layer, no declared nodata, NaN cells present:
                # astype(int) on NaN is platform-dependent garbage
                # (ADVICE r15) — refuse with the fix named instead of
                # exporting undefined values
                raise ValueError(
                    f"to_geotiff_rdd: tile ({kc}, {kr}) contains NaN "
                    f"cells but the layer's cell type {cell_type!r} "
                    "is integer with no nodata declared; call "
                    "with_no_data(<sentinel>) (or convert_data_type to "
                    "a float type) before exporting")
            cells = cells.astype(out_dtype)
        elif out_dtype != np.dtype("float64"):
            cells = cells.astype(out_dtype)
        ext = kt.key_extent(kc, kr)
        buf = encode_geotiff(cells, ext, crs, nodata, compress=compress)
        return pd.DataFrame({"key_col": [kc], "key_row": [kr], "tiff": [buf]})

    return (
        layer.df.select("key_col", "key_row", "band", "cells")
        .groupBy("key_col", "key_row")
        .applyInPandas(encode, schema=schema)
    )


def save_stitched(layer, path: str, compress: bool = True,
                  max_cells: int = 512 * 1024 * 1024 // 8) -> None:
    """Stitch the whole layer and write ONE GeoTIFF (driver-side collect,
    size-guarded — reference ``layer.py:1981-2012``)."""
    tl = layer.metadata.layout.tile_layout
    total = tl.total_cols * tl.total_rows * layer.metadata.num_bands
    if total > max_cells:
        raise ValueError(
            f"save_stitched would materialize {total} cells on the driver "
            f"(> {max_cells}); write the layer to a catalog instead"
        )
    cells = layer.stitch()
    with open(path, "wb") as f:
        f.write(encode_geotiff(
            cells, layer.metadata.layout.extent, layer.metadata.crs,
            layer.metadata.nodata, compress=compress,
        ))


def save_cog(pyramid, path: str, compress: bool = True,
             max_cells: int = 512 * 1024 * 1024 // 8) -> None:
    """Write a pyramid as one COG-style GeoTIFF: the deepest zoom is the
    full-resolution page, shallower zooms become chained overview IFDs
    (reference ``catalog.write(use_cogs=True)``). Driver-side stitch per
    level, size-guarded like ``save_stitched``."""
    zooms = sorted(pyramid.levels) if hasattr(pyramid, "levels") else sorted(pyramid)
    levels_desc = list(reversed(zooms))  # finest first
    first = pyramid[levels_desc[0]]
    total = sum(
        pyramid[z].metadata.layout.tile_layout.total_cols
        * pyramid[z].metadata.layout.tile_layout.total_rows
        * pyramid[z].metadata.num_bands
        for z in levels_desc
    )
    if total > max_cells:
        raise ValueError(f"save_cog would materialize {total} cells on the driver")
    pages = [
        (pyramid[z].stitch(), pyramid[z].metadata.layout.extent) for z in levels_desc
    ]
    buf = encode_geotiff_with_overviews(
        pages, first.metadata.crs, first.metadata.nodata, compress=compress
    )
    with open(path, "wb") as f:
        f.write(buf)


# --- reader-injection hooks for geotiff.get --------------------------------

from functools import lru_cache as _lru_cache
import os as _os

# Residency cap for decoded rasters (entries, per executor Python
# worker). 0 disables caching entirely — every window read re-decodes,
# correct but slow; use for long-lived executors that read many huge
# files. Read once at import; set before importing to override.
_DECODE_CACHE_SIZE = int(_os.environ.get("GEOPYSPARK_DECODE_CACHE", "4"))


@_lru_cache(maxsize=max(_DECODE_CACHE_SIZE, 1))
def _cached_decode_keyed(path: str, mtime: float, size: int):
    return decode_geotiff(_SegmentReader(path).whole())


#: HEAD Content-Length memo per object URI: (expiry_monotonic, size).
#: ADVICE r12: without this, EVERY decode_geotiff_window/_cached_decode
#: call on an object URI issued a network HEAD, turning N windowed
#: reads of one object into N extra round-trips and making every cache
#: hit network-dependent. A short TTL keeps overwrite detection; the
#: escape hatch is clear_decode_cache().
_HEAD_MEMO: dict[str, tuple[float, int]] = {}
_HEAD_MEMO_TTL_S = float(_os.environ.get("GEOPYSPARK_HEAD_TTL", "60"))
_HEAD_MEMO_MAX = 1024


def _object_cache_key(uri: str) -> tuple[float, int]:
    """(mtime, size) cache-key components for an object URI: a cheap
    HEAD Content-Length validates the per-URI decode/IFD caches so an
    object overwritten in place with a different length invalidates
    (ADVICE r11). Servers without Content-Length fall back to the
    immutable-object convention (sentinel 0). The HEAD itself is
    memoized per URI for :data:`_HEAD_MEMO_TTL_S` seconds (ADVICE r12),
    so validation costs one round-trip per object, not one per window."""
    import time

    from .objectstore import head_size

    key = str(uri)
    now = time.monotonic()
    hit = _HEAD_MEMO.get(key)
    if hit is not None and hit[0] > now:
        return 0.0, hit[1]
    try:
        size = int(head_size(uri) or 0)
    except Exception:
        size = 0
    if len(_HEAD_MEMO) >= _HEAD_MEMO_MAX:
        _HEAD_MEMO.clear()
    _HEAD_MEMO[key] = (now + _HEAD_MEMO_TTL_S, size)
    return 0.0, size


def _cached_decode(path: str):
    """Decode a file once per (path, mtime, size) per process — sizer +
    every window of the same file share one decode (the pure codec has
    no partial-read path, so without this each window re-decoded the
    file). mtime AND byte size key the cache so an in-place rewrite on
    a coarse-mtime filesystem still invalidates whenever the length
    changes; a same-length sub-granularity rewrite remains undetectable
    (call :func:`clear_decode_cache` after such rewrites). Object-store
    URIs key on the HEAD Content-Length (see :func:`_object_cache_key`),
    so a same-URI overwrite invalidates whenever the length changes."""
    from .objectstore import is_object_uri

    if is_object_uri(path):
        mtime, size = _object_cache_key(path)
    else:
        st = _os.stat(path)
        mtime, size = st.st_mtime, st.st_size
    if _DECODE_CACHE_SIZE == 0:
        return _cached_decode_keyed.__wrapped__(path, mtime, size)
    return _cached_decode_keyed(path, mtime, size)


def clear_decode_cache() -> None:
    """Drop every cached decoded raster (and cached IFD summary) in
    this process. For long-lived executors holding large rasters
    resident, or after rewriting a file in-place without changing its
    length or (coarse) mtime."""
    _cached_decode_keyed.cache_clear()
    _ifd_summary.cache_clear()
    _cached_window_meta.cache_clear()
    _HEAD_MEMO.clear()


@_lru_cache(maxsize=256)
def _ifd_summary(path: str, mtime: float, size: int):
    """IFD-only metadata: (cols, rows, bands, extent|None, n_segments,
    subbyte) without touching any pixel segment — O(IFD) file IO. None
    when the header/IFD cannot be parsed from the leading bytes (the
    caller falls back to the whole-decode path)."""
    try:
        rd = _SegmentReader(path)
        head = rd.head()
        bo, big, off0 = _tiff_header(head)
        tags, _ = _read_ifd(head, bo, off0, big)
        cols = int(tags[_IMAGE_WIDTH][0])
        rows = int(tags[_IMAGE_LENGTH][0])
        bands = int(tags.get(_SAMPLES_PER_PIXEL, [1])[0])
        bits = int(tags.get(_BITS_PER_SAMPLE, [32])[0])
        nseg = len(tags.get(_TILE_OFFSETS, tags.get(_STRIP_OFFSETS, [0])))
        extent, _, _ = _page_geo(tags, rows, cols)
        return cols, rows, bands, extent, nseg, bits in (1, 2, 4)
    except Exception:
        return None


def _ifd_summary_for(path: str):
    from .objectstore import is_object_uri

    if is_object_uri(path):
        # HEAD-derived key, matching _cached_decode/_cached_window_meta
        # (r15 review: a constant key served a stale IFD summary after
        # a same-URI overwrite, so sizer()/decoder() routed windows
        # computed from the OLD raster's geometry into the new one)
        mtime, size = _object_cache_key(path)
        return _ifd_summary(path, mtime, size)
    st = _os.stat(path)
    return _ifd_summary(path, st.st_mtime, st.st_size)


def sizer(path: str):
    """``geotiff.get`` sizer over the pure codec. Reads ONLY the header
    + IFD (no pixel segments, no whole-file IO) whenever the IFD sits in
    the leading bytes — driver-side metadata for a multi-GiB BigTIFF is
    O(KiB). Files without georeferencing tags get the GDAL-style
    pixel-space extent (0, 0, width, height)."""
    meta = _ifd_summary_for(path)
    if meta is not None:
        cols, rows, bands, extent, _, _ = meta
        if extent is None:
            extent = Extent(0.0, 0.0, float(cols), float(rows))
        return cols, rows, extent, bands
    cells, extent, _, _ = _cached_decode(path)
    if extent is None:
        extent = Extent(0.0, 0.0, float(cells.shape[2]), float(cells.shape[1]))
    return cells.shape[2], cells.shape[1], extent, cells.shape[0]


def decoder(path: str, window, band: int) -> np.ndarray:
    """``geotiff.get`` decoder: read one (c0, r0, w, h) window of one
    band. Multi-segment files (tiled, or more than one strip) take the
    PARTIAL-READ path — seek/read + decompress only the intersected
    segments (:func:`decode_geotiff_window`), so executor IO and memory
    scale with the window, not the raster. Single-strip files (this
    engine's own output) amortize one whole decode across windows via
    the per-process cache; residency is bounded by
    ``GEOPYSPARK_DECODE_CACHE`` entries (default 4, 0 = no caching; see
    :func:`clear_decode_cache`). Always returns a fresh writable COPY
    (matching ``rasterio_decoder``'s contract)."""
    meta = _ifd_summary_for(path)
    if meta is not None and meta[4] > 1 and not meta[5]:
        return decode_geotiff_window(path, window, band)
    cells, _, _, _ = _cached_decode(path)
    c0, r0, w, h = window
    return cells[band, r0:r0 + h, c0:c0 + w].copy()
