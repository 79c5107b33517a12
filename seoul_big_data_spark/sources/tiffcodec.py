"""TIFF 6.0 codec — pure Python/numpy, no external deps.

Implements the public TIFF 6.0 specification's baseline + extensions:
both byte orders (II little-endian / MM big-endian), strip- AND
tile-organized (r4) 8- and 16-bit grayscale and RGB plus photometric-3
palette pages (ColorMap tag 320), Compression 1 (none), 32773 (PackBits
RLE), 5 (TIFF-flavor LZW: MSB-first bit packing with the spec's "early
change" code-width rule — one code earlier than GIF's variant), and 8
(Adobe deflate via stdlib zlib, r4), Predictor 2 (horizontal
differencing at the sample width), and multi-page files via the IFD
chain (the frame-sampling tie-in: pages play the role GIF frames do).

Compression 7 (new-style JPEG-in-TIFF per TIFF Technical Note 2) rides
the in-repo T.81 codec (`jpegcodec.py`): each strip/tile is a JPEG
stream, optionally abbreviated against the shared JPEGTables tag (347)
whose DQT/DHT segments are spliced in after the strip's SOI before
decode. Old-style compression 6 decodes in its one interoperable
layout — JPEGInterchangeFormat(+Length) tags 513/514 pointing at a
complete per-page stream; its per-strip tag-zoo variants and the fax
compressions raise ``NotImplementedError`` at the same documented codec
slot the other formats use (`multimodal.py`).

The encoder is the test-vector generator: II or MM order, any of the
three compressions, optional predictor, configurable rows-per-strip or
tile geometry (to exercise multi-strip/tile assembly), multi-page.

North-star extension (SURVEY.md §2.10 N5); decode runs executor-side in
Arrow-batched ``mapInPandas`` like every other codec here.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "decode_tiff_pages",
    "decode_tiff",
    "encode_tiff",
    "tiff_page_stats",
]


# --- TIFF-flavor LZW (MSB-first, early change) ------------------------------


def _tiff_lzw_decode(data: bytes) -> bytes:
    """LZW per TIFF 6.0 §13: 8-bit symbols, ClearCode 256, EOI 257, codes
    packed MSB-first starting at 9 bits, width bumps at 511/1023/2047
    (one code EARLIER than the GIF variant — the 'early change')."""
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    next_code = 258
    width = 9

    out = bytearray()
    acc = 0
    acc_bits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        acc_bits += 8
        while acc_bits >= width:
            code = (acc >> (acc_bits - width)) & ((1 << width) - 1)
            acc_bits -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                next_code = 258
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < next_code:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt TIFF-LZW stream")
            out += entry
            if prev is not None and next_code < 4096:
                table.append(prev + entry[:1])
                next_code += 1
            if next_code == (1 << width) - 1 and width < 12:  # early change
                width += 1
            prev = entry
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Encoder matched to ``_tiff_lzw_decode``: emits CLEAR up front and at
    dictionary overflow; the early-change rule applies symmetrically on the
    encode side (the width the decoder will use for the NEXT read is known
    after each table add)."""
    CLEAR, EOI = 256, 257

    out = bytearray()
    acc = 0
    acc_bits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, acc_bits
        acc = (acc << width) | code
        acc_bits += width
        while acc_bits >= 8:
            out.append((acc >> (acc_bits - 8)) & 0xFF)
            acc_bits -= 8
        acc &= (1 << acc_bits) - 1

    def fresh() -> tuple[dict, int]:
        return {bytes([i]): i for i in range(256)}, 258

    table, next_code = fresh()
    emit(CLEAR)
    prefix = b""
    for b in data:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix])
        table[cand] = next_code
        next_code += 1
        # early change, encode side: the encoder's next_code runs one ahead
        # of the decoder's, so the bump lands at (1<<width), which is the
        # decoder's (1<<width)-1
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code > 4094:
            emit(CLEAR)
            table, next_code = fresh()
            width = 9
        prefix = bytes([b])
    if prefix:
        emit(table[prefix])
        # the decoder adds one more entry on reading this last code, so it
        # may widen before EOI; EOI must go out at that width
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(EOI)
    if acc_bits:
        out.append((acc << (8 - acc_bits)) & 0xFF)
    return bytes(out)


# --- PackBits (TIFF 6.0 §9) -------------------------------------------------


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos]
        pos += 1
        if n < 128:  # literal run of n+1
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat next byte 257-n times
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: noop
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: repeat runs >= 3 become replicate records, the rest
    accumulate into literal records (max 128 either way)."""
    out = bytearray()
    i = 0
    n = len(data)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            while lit_start < i:  # flush pending literals
                take = min(128, i - lit_start)
                out.append(take - 1)
                out += data[lit_start:lit_start + take]
                lit_start += take
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    while lit_start < i:
        take = min(128, i - lit_start)
        out.append(take - 1)
        out += data[lit_start:lit_start + take]
        lit_start += take
    return bytes(out)


# --- JPEG-in-TIFF (compression 7, TIFF Technical Note 2) --------------------


def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Split a standalone JPEG interchange stream into (tables, abbreviated):
    ``tables`` is a JPEGTables-tag payload (SOI + every DQT/DHT segment +
    EOI), ``abbreviated`` is the stream with those segments removed — the
    two TN2 halves that ``_merge_jpeg_tables`` recombines. Marker walk only
    runs up to SOS; entropy-coded data never contains table segments."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    tables = bytearray(b"\xff\xd8")
    abbrev = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(stream):
        if stream[pos] != 0xFF:
            raise ValueError("corrupt JPEG segment chain")
        marker = stream[pos + 1]
        if marker == 0xDA:  # SOS: rest of the stream is entropy data + EOI
            abbrev += stream[pos:]
            break
        seg_len = struct.unpack_from(">H", stream, pos + 2)[0]
        seg = stream[pos:pos + 2 + seg_len]
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            abbrev += seg
        pos += 2 + seg_len
    tables += b"\xff\xd9"
    return bytes(tables), bytes(abbrev)


def _merge_jpeg_tables(tables: bytes, abbrev: bytes) -> bytes:
    """Splice a JPEGTables payload's segments (strip its SOI/EOI) into an
    abbreviated strip stream right after the strip's SOI — the TN2 decode
    rule: tables tag segments apply first, strip-local segments may then
    override."""
    if not tables:
        return abbrev
    if tables[:2] != b"\xff\xd8" or abbrev[:2] != b"\xff\xd8":
        raise ValueError("corrupt JPEG-in-TIFF stream")
    body = tables[2:]
    if body[-2:] == b"\xff\xd9":
        body = body[:-2]
    return abbrev[:2] + body + abbrev[2:]


# --- IFD parsing ------------------------------------------------------------

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def _read_ifd(payload: bytes, offset: int, e: str) -> tuple[dict, int]:
    """One IFD at ``offset`` -> ({tag: [values]}, next_ifd_offset)."""
    n = struct.unpack_from(e + "H", payload, offset)[0]
    tags: dict[int, list[int]] = {}
    for i in range(n):
        base = offset + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", payload, base)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue
        total = size * count
        if total <= 4:
            vbase = base + 8
        else:
            vbase = struct.unpack_from(e + "I", payload, base + 8)[0]
        fmt = {1: "B", 2: "B", 3: "H", 4: "I", 7: "B"}.get(typ)
        if fmt is None:  # RATIONAL etc. — not needed for the baseline tags
            continue
        tags[tag] = list(
            struct.unpack_from(e + fmt * count, payload, vbase)
        )
    nxt = struct.unpack_from(e + "I", payload, offset + 2 + 12 * n)[0]
    return tags, nxt


def _iter_ifds(payload: bytes):
    """Yield (tags, endianness) for every IFD in the chain — header walk
    only, no strip decode (the cheap pass page sampling relies on)."""
    if payload[:4] == b"II*\x00":
        e = "<"
    elif payload[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF payload")
    offset = struct.unpack_from(e + "I", payload, 4)[0]
    while offset:
        tags, offset = _read_ifd(payload, offset, e)
        yield tags, e


def _decode_jpeg_page(
    payload: bytes, tags: dict, w: int, h: int, spp: int, photo: int
) -> np.ndarray:
    """Compression-7 page: every strip/tile is a JPEG stream (abbreviated
    streams get the JPEGTables tag-347 segments spliced in after SOI), each
    decoded by the in-repo T.81 codec and placed by strip/tile geometry.
    Strips carry their true height in their own SOF, so the last short
    strip needs no special case; edge tiles are full-size per spec and
    crop at placement, exactly like the uncompressed tile path."""
    from .jpegcodec import decode_jpeg_pixels

    jpeg_tables = bytes(tags[347]) if 347 in tags else b""

    def decode_chunk(chunk: bytes) -> np.ndarray:
        px = decode_jpeg_pixels(_merge_jpeg_tables(jpeg_tables, chunk))
        if px.ndim == 2:
            px = px[:, :, None]
        return px

    out = np.zeros((h, w, spp), dtype=np.uint8)
    if 322 in tags or 324 in tags:  # tile organization
        tw, th = tags[322][0], tags[323][0]
        tiles_x = -(-w // tw)
        offsets, counts = tags[324], tags[325]
        for ti, (to, tc) in enumerate(zip(offsets, counts)):
            tile = decode_chunk(payload[to:to + tc])
            y0 = (ti // tiles_x) * th
            x0 = (ti % tiles_x) * tw
            ys, xs = min(th, h - y0), min(tw, w - x0)
            out[y0:y0 + ys, x0:x0 + xs] = tile[:ys, :xs, :spp]
    else:
        y0 = 0
        for so, sc in zip(tags[273], tags[279]):
            strip = decode_chunk(payload[so:so + sc])
            rows = strip.shape[0]
            if strip.shape[1] != w or y0 + rows > h:
                raise ValueError("JPEG strip geometry disagrees with IFD")
            out[y0:y0 + rows] = strip[:, :, :spp]
            y0 += rows
        if y0 != h:
            raise ValueError("JPEG strips do not cover the page")
    if photo == 0:
        out = 255 - out
    return out


def _decode_ifd_page(payload: bytes, tags: dict, e: str = "<") -> np.ndarray:
    """Decode one IFD's image to (h, w, channels) uint8. 16-bit samples
    (r4) decode in the file's byte order, undo the predictor at 16-bit
    width, and reduce to the standard top-byte 8-bit view."""
    w = tags[256][0]
    h = tags[257][0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    pred = tags.get(317, [1])[0]
    if not (all(b == 8 for b in bits) or all(b == 16 for b in bits)):
        raise NotImplementedError(
            f"TIFF BitsPerSample {bits} needs a real codec"
        )
    wide = bits[0] == 16
    if photo not in (0, 1, 2, 3) and not (photo == 6 and comp in (6, 7)):
        raise NotImplementedError(
            f"TIFF photometric {photo} (CMYK) needs a real codec; "
            "plug PIL here"
        )
    if photo == 3 and (320 not in tags or wide):
        raise ValueError("palette TIFF missing ColorMap or non-8-bit")
    if comp not in (1, 5, 6, 7, 8, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp} (fax) needs a real codec; "
            "plug PIL here"
        )
    if comp in (6, 7):
        if wide:
            raise NotImplementedError("12-bit JPEG-in-TIFF needs a real codec")
        if comp == 6:
            # Old-style JPEG (deprecated by TN2): the only interoperable
            # layout is JPEGInterchangeFormat (513) + ...Length (514)
            # pointing at one complete stream for the whole page; the
            # tag-zoo per-strip variants stay a documented boundary.
            if 513 not in tags:
                raise NotImplementedError(
                    "old-style JPEG-in-TIFF without JPEGInterchangeFormat "
                    "needs a real codec; plug PIL here"
                )
            from .jpegcodec import decode_jpeg_pixels

            off = tags[513][0]
            ln = tags[514][0] if 514 in tags else len(payload) - off
            px = decode_jpeg_pixels(payload[off:off + ln])
            if px.ndim == 2:
                px = px[:, :, None]
            if px.shape[0] < h or px.shape[1] < w:
                raise ValueError("old-style JPEG smaller than the IFD page")
            out = px[:h, :w, :spp]
            return (255 - out) if photo == 0 else out
        return _decode_jpeg_page(payload, tags, w, h, spp, photo)

    def decompress(chunk: bytes) -> bytes:
        if comp == 5:
            return _tiff_lzw_decode(chunk)
        if comp == 8:  # Adobe deflate (r4): stdlib zlib
            import zlib

            return zlib.decompress(chunk)
        if comp == 32773:
            return _packbits_decode(chunk)
        return chunk

    sb = 2 if wide else 1

    def to_values(raw: bytes, rows_: int, cols_: int) -> np.ndarray:
        """Decoded bytes of one strip/tile region -> (rows, cols, spp)
        int64 with the predictor undone at the sample width."""
        count = rows_ * cols_ * spp
        if len(raw) < count * sb:
            raise ValueError("truncated TIFF pixel data")
        if wide:
            vals = np.frombuffer(raw, dtype=e + "u2", count=count).astype(
                np.int64
            )
        else:
            vals = np.frombuffer(raw, dtype=np.uint8, count=count).astype(
                np.int64
            )
        vals = vals.reshape(rows_, cols_, spp)
        if pred == 2:  # horizontal differencing at the sample width
            vals = np.cumsum(vals, axis=1) % (65536 if wide else 256)
        return vals

    if 322 in tags or 324 in tags:  # tile organization (r4)
        tw = tags[322][0]
        th = tags[323][0]
        vals = np.zeros((h, w, spp), dtype=np.int64)
        tiles_x = -(-w // tw)
        tiles_y = -(-h // th)
        offsets = tags[324]
        counts = tags[325]
        ti = 0
        for ty in range(tiles_y):
            for tx in range(tiles_x):
                raw = decompress(payload[offsets[ti]:offsets[ti] + counts[ti]])
                tile = to_values(raw, th, tw)  # tiles are always full-size
                y0, x0 = ty * th, tx * tw
                vals[y0:y0 + th, x0:x0 + tw] = tile[
                    : min(th, h - y0), : min(tw, w - x0)
                ]
                ti += 1
    else:  # strip organization
        raw = bytearray()
        for so, sc in zip(tags[273], tags[279]):
            raw += decompress(payload[so:so + sc])
        vals = to_values(bytes(raw), h, w)

    if wide:
        arr = (vals >> 8).astype(np.uint8)  # standard top-byte 8-bit view
    else:
        arr = vals.astype(np.uint8)
    if photo == 0:  # WhiteIsZero: invert to the usual BlackIsZero
        arr = 255 - arr
    elif photo == 3:  # palette (r4): ColorMap holds 16-bit RGB planes
        cmap = np.array(tags[320], dtype=np.int64)
        n_colors = len(cmap) // 3
        rgb16 = cmap.reshape(3, n_colors)  # R plane, G plane, B plane
        idx = arr[:, :, 0]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("palette TIFF index out of range")
        arr = (rgb16[:, idx] >> 8).astype(np.uint8).transpose(1, 2, 0)
    return arr


def decode_tiff_pages(payload: bytes) -> list[np.ndarray]:
    """Every page of a TIFF as (h, w, channels) uint8 arrays, y=0 at top.
    Baseline subset: 8-bit gray/RGB strips, Compression 1/5/32773,
    Predictor 1/2, either byte order."""
    pages = [_decode_ifd_page(payload, tags, e) for tags, e in _iter_ifds(payload)]
    if not pages:
        raise ValueError("TIFF contains no IFD")
    return pages


def tiff_page_stats(payload: bytes, every_k: int = 1) -> list[dict]:
    """Per-page content statistics for every k-th page (always including
    page 0). TIFF pages are independently strip-compressed, so — unlike
    delta-coded GIF — unsampled pages are NEVER decoded: the IFD chain walk
    is header-only, and only sampled pages pay LZW/PackBits + pixel cost.
    This is the sample-before-decode ordering that matters when pages are
    the 100 TB payload."""
    ifds = list(_iter_ifds(payload))
    out = []
    for i in range(0, len(ifds), every_k):
        arr = _decode_ifd_page(payload, ifds[i][0], ifds[i][1])
        h, w, spp = arr.shape
        n_px = h * w
        s = arr.astype(np.int64).sum(axis=(0, 1))
        r = int(s[0]) / n_px
        g = int(s[1]) / n_px if spp >= 3 else r
        b = int(s[2]) / n_px if spp >= 3 else r
        out.append(
            {
                "frame_idx": i,
                "n_frames": len(ifds),
                "format": "tiff",
                "width": w,
                "height": h,
                "mean_r": r,
                "mean_g": g,
                "mean_b": b,
            }
        )
    return out


def decode_tiff(payload: bytes) -> dict:
    """First page -> the typed-metadata dict shape shared by the other
    raster decoders in ``multimodal.py``."""
    px = decode_tiff_pages(payload)[0]
    h, w, channels = px.shape
    n_px = h * w
    sums = px.astype(np.int64).sum(axis=(0, 1))
    if channels == 1:
        r = g = b = int(sums[0]) / n_px
        feat = r
    else:
        r, g, b = (int(sums[i]) / n_px for i in range(3))
        feat = int(sums[:3].sum()) / (3 * n_px)
    return {
        "format": "tiff",
        "width": w,
        "height": h,
        "channels": channels,
        "mean_r": r,
        "mean_g": g,
        "mean_b": b,
        "feat_mean": feat,
    }


# --- encoder (test-vector generator) ----------------------------------------


def encode_tiff(
    pages,
    compression: str = "none",
    predictor: bool = False,
    rows_per_strip: int | None = None,
    byte_order: str = "II",
    tile: tuple[int, int] | None = None,
    colormap=None,
    quality: int = 90,
    jpeg_tables: bool = False,
) -> bytes:
    """TIFF writer for one (h, w, c) page or a list of pages (c in {1, 3};
    uint8, or uint16 for 16-bit samples in the file byte order).
    ``compression``: 'none' | 'packbits' | 'lzw' | 'deflate' | 'jpeg'
    (new-style compression 7 — each strip/tile is a T.81 stream at
    ``quality``; ``jpeg_tables=True`` factors the shared DQT/DHT segments
    into a JPEGTables tag 347 and writes abbreviated strip streams, the
    TN2 layout real writers emit); ``predictor`` applies horizontal
    differencing at the sample width (meaningful with 'lzw');
    ``rows_per_strip`` defaults to the full page (set small to exercise
    multi-strip assembly); ``byte_order`` 'II' or 'MM'; ``tile=(tw, th)``
    writes tile organization instead of strips (edge tiles padded to full
    tile size per spec; tw/th must be multiples of 16)."""
    if isinstance(pages, np.ndarray) and pages.ndim == 3:
        pages = [pages]
    if tile is not None and (tile[0] % 16 or tile[1] % 16):
        raise ValueError("tile dimensions must be multiples of 16")
    if compression in ("jpeg", "jpeg_old", "jpeg_lossless") and (
        predictor or colormap is not None
        or any(p.dtype == np.uint16 for p in pages)
    ):
        raise ValueError("jpeg compression is 8-bit gray/RGB only")
    if compression == "jpeg_old" and tile is not None:
        raise ValueError("old-style JPEG is one stream per page, not tiled")
    e = "<" if byte_order == "II" else ">"
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
                 "jpeg": 7, "jpeg_old": 6, "jpeg_lossless": 7}[compression]

    out = bytearray()
    out += (b"II*\x00" if byte_order == "II" else b"MM\x00*")
    out += struct.pack(e + "I", 8)  # first IFD right after the header

    # layout: [header][IFD+strip/tile data per page]...
    pos = 8
    blobs = []
    for p, arr in enumerate(pages):
        h, w, c = arr.shape
        wide = arr.dtype == np.uint16

        page_jpeg_tables = b""

        def compress_block(block) -> bytes:
            nonlocal page_jpeg_tables
            if compression in ("jpeg", "jpeg_old", "jpeg_lossless"):
                from .jpegcodec import encode_jpeg, encode_jpeg_lossless

                if compression == "jpeg_lossless":
                    # the DNG shape: SOF3 streams inside compression-7
                    # strips — bit-exact pixels through the same tag layout
                    stream = encode_jpeg_lossless(
                        np.ascontiguousarray(block), predictor=4
                    )
                else:
                    stream = encode_jpeg(
                        np.ascontiguousarray(block), quality=quality,
                        subsampling="444",
                    )
                if not jpeg_tables:
                    return stream
                tables, abbrev = _split_jpeg_tables(stream)
                page_jpeg_tables = tables  # same quality -> same tables
                return abbrev
            if predictor:
                mod = 65536 if wide else 256
                d = block.astype(np.int64)
                block = np.concatenate(
                    [d[:, :1], (d[:, 1:] - d[:, :-1]) % mod], axis=1
                ).astype(np.uint16 if wide else np.uint8)
            chunk = (
                np.ascontiguousarray(block.astype(e + "u2")).tobytes()
                if wide
                else block.astype(np.uint8).tobytes()
            )
            if compression == "packbits":
                return _packbits_encode(chunk)
            if compression == "lzw":
                return _tiff_lzw_encode(chunk)
            if compression == "deflate":
                import zlib

                return zlib.compress(chunk)
            return chunk

        strips = []
        if tile is not None:
            tw, th = tile
            padded = np.pad(
                arr,
                ((0, -(-h // th) * th - h), (0, -(-w // tw) * tw - w), (0, 0)),
                mode="edge",
            )
            for ty in range(0, padded.shape[0], th):
                for tx in range(0, padded.shape[1], tw):
                    strips.append(
                        compress_block(padded[ty:ty + th, tx:tx + tw])
                    )
        else:
            # old-style JPEG is one interchange stream per page
            rps = h if compression == "jpeg_old" else (rows_per_strip or h)
            for y0 in range(0, h, rps):
                strips.append(compress_block(arr[y0:y0 + rps]))

        n_strips = len(strips)
        offsets_tag = 324 if tile is not None else 273
        counts_tag = 325 if tile is not None else 279
        entries = []  # (tag, type, count, value_or_data)
        entries.append((256, 4, 1, w))
        entries.append((257, 4, 1, h))
        entries.append((258, 3, c, [16 if wide else 8] * c))
        entries.append((259, 3, 1, comp_code))
        if compression in ("jpeg", "jpeg_old"):
            photo_tag = 1 if c == 1 else 6  # YCbCr, per TN2
        elif compression == "jpeg_lossless":
            photo_tag = 1 if c == 1 else 2  # SOF3 carries RGB as-is
        elif colormap is not None:
            photo_tag = 3
        else:
            photo_tag = 1 if c == 1 else 2
        entries.append((262, 3, 1, photo_tag))
        entries.append((offsets_tag, 4, n_strips, None))  # patched below
        entries.append((277, 3, 1, c))
        if tile is not None:
            entries.append((322, 4, 1, tile[0]))
            entries.append((323, 4, 1, tile[1]))
        else:
            entries.append((278, 4, 1, rows_per_strip or h))
        entries.append((counts_tag, 4, n_strips, [len(s) for s in strips]))
        if predictor:
            entries.append((317, 3, 1, 2))
        if page_jpeg_tables:
            entries.append(
                (347, 7, len(page_jpeg_tables), list(page_jpeg_tables))
            )
        if compression == "jpeg_old":
            # JPEGInterchangeFormat(+Length): the whole-page stream the
            # decoder actually reads; strip tags stay for compatibility
            entries.append((513, 4, 1, None))  # patched with the offset
            entries.append((514, 4, 1, len(strips[0])))
        if colormap is not None:
            cm = np.asarray(colormap, dtype=np.int64)
            planes = [int(v) << 8 for v in cm[:, 0]] + \
                     [int(v) << 8 for v in cm[:, 1]] + \
                     [int(v) << 8 for v in cm[:, 2]]
            entries.append((320, 3, len(planes), planes))
        blobs.append((entries, strips))

    # serialize page by page, chaining IFD offsets
    body = bytearray()
    ifd_positions = []
    pos = 8
    for entries, strips in blobs:
        n = len(entries)
        ifd_positions.append(pos)
        ifd_size = 2 + 12 * n + 4
        extra_pos = pos + ifd_size
        extra = bytearray()

        # strip data goes after the IFD's overflow area; compute offsets in
        # two passes (first: overflow values, then strip bytes)
        def value_bytes(typ, vals):
            fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
            return struct.pack(e + fmt * len(vals), *vals)

        patched = []
        overflow_alloc = []
        for tag, typ, count, val in entries:
            if tag in (273, 324, 513):  # data offsets: patched below
                patched.append((tag, typ, count, None))
                continue
            vals = val if isinstance(val, list) else [val]
            vb = value_bytes(typ, vals)
            if len(vb) <= 4:
                patched.append((tag, typ, count, vb.ljust(4, b"\x00")))
            else:
                overflow_alloc.append((len(patched), vb))
                patched.append((tag, typ, count, None))

        for idx, vb in overflow_alloc:
            tag, typ, count, _ = patched[idx]
            patched[idx] = (
                tag, typ, count,
                struct.pack(e + "I", extra_pos + len(extra)),
            )
            extra += vb

        # strip offsets: data begins after the overflow area
        data_start = extra_pos + len(extra)
        strip_offsets = []
        acc = data_start
        # strip-offset values may themselves overflow the 4-byte slot
        so_idx = next(
            i for i, (t, _, _, _) in enumerate(patched) if t in (273, 324)
        )
        off_tag = patched[so_idx][0]
        n_strips = len(strips)
        if n_strips * 4 <= 4:
            for s in strips:
                strip_offsets.append(acc)
                acc += len(s)
            patched[so_idx] = (
                off_tag, 4, n_strips,
                struct.pack(e + "I", strip_offsets[0]).ljust(4, b"\x00"),
            )
        else:
            so_pos = data_start
            data_start = so_pos + 4 * n_strips
            acc = data_start
            for s in strips:
                strip_offsets.append(acc)
                acc += len(s)
            extra += struct.pack(e + "I" * n_strips, *strip_offsets)
            patched[so_idx] = (
                off_tag, 4, n_strips, struct.pack(e + "I", so_pos)
            )
        for i2, (t2, ty2, c2, v2) in enumerate(patched):
            if t2 == 513 and v2 is None:  # old-style JPEG: page stream
                patched[i2] = (
                    513, ty2, c2, struct.pack(e + "I", strip_offsets[0])
                )

        ifd = bytearray(struct.pack(e + "H", len(patched)))
        for tag, typ, count, vb in patched:
            ifd += struct.pack(e + "HHI", tag, typ, count) + vb
        next_slot = len(ifd)
        ifd += struct.pack(e + "I", 0)  # patched when the next page lands

        page = ifd + extra + b"".join(strips)
        body += page
        pos += len(page)

    # chain the IFDs
    blob = bytearray(out) + body
    for i in range(len(ifd_positions) - 1):
        entries, _ = blobs[i]
        n = len(entries)
        slot = ifd_positions[i] + 2 + 12 * n
        blob[slot:slot + 4] = struct.pack(e + "I", ifd_positions[i + 1])
    return bytes(blob)
