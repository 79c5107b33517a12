"""Property tests for the r4 pure-Python codecs (JPEG baseline, GIF LZW).

These are the verification layer for surfaces no SQL oracle can reach: the
codecs are deterministic functions of bytes, so hypothesis can hammer the
encode→decode composition across the parameter space (dimensions,
subsampling, quality, palette size, frame counts, interlacing) far beyond
the hand-picked fixtures in test_multimodal.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from seoul_big_data_spark.sources.gifcodec import (
    _lzw_decode,
    _lzw_encode,
    decode_gif_frames,
    encode_gif,
)
from seoul_big_data_spark.sources.jpegcodec import (
    decode_jpeg_pixels,
    encode_jpeg,
)

_PROP = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    min_code=st.integers(2, 8),
    length=st.integers(0, 3000),
)
def test_gif_lzw_roundtrip_property(seed, min_code, length):
    """LZW decode(encode(x)) == x for any index stream over any alphabet
    width the format allows — including empty streams and single symbols."""
    rng = np.random.RandomState(seed)
    stream = rng.randint(0, 1 << min_code, size=length).tolist()
    assert _lzw_decode(_lzw_encode(stream, min_code), min_code) == stream


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    n_colors=st.integers(1, 64),
    interlace=st.booleans(),
)
def test_gif_single_frame_lossless_property(seed, h, w, n_colors, interlace):
    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(n_colors, 3))
    img = palette[rng.randint(0, n_colors, size=(h, w))].astype("uint8")
    dec = decode_gif_frames(encode_gif(img, interlace=interlace))
    assert dec.shape == (1, h, w, 3)
    assert np.array_equal(dec[0], img)


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(2, 24),
    w=st.integers(2, 24),
    n_frames=st.integers(2, 6),
    delta=st.booleans(),
)
def test_gif_animation_lossless_property(seed, h, w, n_frames, delta):
    """Every composited frame equals its source, for plain and delta-coded
    animations alike (delta coding must be invisible after compositing)."""
    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(16, 3))
    frames = palette[rng.randint(0, 16, size=(n_frames, h, w))].astype("uint8")
    dec = decode_gif_frames(encode_gif(frames, delta=delta))
    assert dec.shape == frames.shape
    assert np.array_equal(dec, frames)


def _smooth(seed: int, h: int, w: int) -> np.ndarray:
    """Band-limited random image: random low-frequency cosine mixture —
    the content class JPEG's 8x8 DCT model is built for."""
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(float)
    chans = []
    for _ in range(3):
        acc = np.full((h, w), 128.0)
        for _ in range(4):
            fy, fx = rng.uniform(0, 1.5, 2)
            ph = rng.uniform(0, 2 * np.pi)
            amp = rng.uniform(10, 40)
            acc += amp * np.cos(2 * np.pi * (fy * yy / h + fx * xx / w) + ph)
        chans.append(acc)
    return np.clip(np.stack(chans, axis=2), 0, 255).astype("uint8")


def _ideal_sub(img: np.ndarray, sv: int, sh: int) -> np.ndarray:
    """The lossless chroma-subsampling reference: YCbCr, (sv, sh) box-mean
    chroma downsample, replication upsample, back to RGB — what a perfect
    codec would return under this subsampling model. Comparing the decode
    against THIS (not the source) isolates DCT/quantization error from the
    inherent, deliberate subsampling loss."""
    h, w, _ = img.shape
    a = img.astype(np.float64)
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    def ds_us(p):
        ph = -(-h // sv) * sv
        pw = -(-w // sh) * sh
        p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        d = p.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))
        return np.repeat(np.repeat(d, sv, axis=0), sh, axis=1)[:h, :w]

    cb, cr = ds_us(cb), ds_us(cr)
    rec = np.stack(
        [
            y + 1.402 * (cr - 128.0),
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            y + 1.772 * (cb - 128.0),
        ],
        axis=2,
    )
    return np.clip(np.round(rec), 0, 255).astype(np.uint8)


_SUB_FACTORS = {"444": (1, 1), "422": (1, 2), "420": (2, 2)}  # (sv, sh)


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(8, 48),
    w=st.integers(8, 48),
    quality=st.integers(80, 98),
    subsampling=st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_roundtrip_bounded_error_property(seed, h, w, quality, subsampling):
    """decode(encode(x)) stays within quantization-scale error of the ideal
    reference for band-limited content at any geometry (incl.
    non-multiple-of-8/16) and quality 80-98. For 4:2:2/4:2:0 the reference
    is the lossless subsampling model (chroma box-downsample is deliberate
    loss, not codec error). Shape must always be exact."""
    img = _smooth(seed, h, w)
    dec = decode_jpeg_pixels(
        encode_jpeg(img, quality=quality, subsampling=subsampling)
    )
    assert dec.shape == img.shape
    sv, sh = _SUB_FACTORS[subsampling]
    ref = img if subsampling == "444" else _ideal_sub(img, sv, sh)
    err = np.abs(dec.astype(int) - ref.astype(int))
    # bound set from a 150-seed worst-case sweep of this strategy space
    # (worst observed mean 15.2, max 39 — q80 chroma quantization on
    # strong-chroma 8x8 content). A broken DCT/zigzag/Huffman path lands
    # far above this; in-spec quantization never reaches it.
    assert err.mean() < 20.0
    assert err.max() < 80


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    interval=st.integers(1, 7),
)
def test_jpeg_restart_framing_is_content_invariant(seed, interval):
    """Any restart interval reproduces the exact no-restart pixels."""
    img = _smooth(seed, 24, 40)
    plain = decode_jpeg_pixels(encode_jpeg(img, quality=90))
    framed = decode_jpeg_pixels(
        encode_jpeg(img, quality=90, restart_interval=interval)
    )
    assert np.array_equal(plain, framed)


@_PROP
@given(seed=st.integers(0, 2**31 - 1), quality=st.integers(70, 98))
def test_jpeg_grayscale_bounded_error_property(seed, quality):
    img = _smooth(seed, 24, 24)[:, :, :1]
    dec = decode_jpeg_pixels(encode_jpeg(img, quality=quality))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 8.0


def test_jpeg_decoder_rejects_truncated_scan():
    """Cutting the entropy segment mid-stream must raise, not return a
    half-image silently."""
    img = _smooth(5, 24, 24)
    enc = bytearray(encode_jpeg(img, quality=90))
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg_pixels(bytes(enc[: len(enc) // 2]))


# --- TIFF -------------------------------------------------------------------


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    c=st.sampled_from([1, 3]),
    compression=st.sampled_from(["none", "packbits", "lzw"]),
    predictor=st.booleans(),
    byte_order=st.sampled_from(["II", "MM"]),
    rps=st.integers(1, 12),
)
def test_tiff_roundtrip_property(
    seed, h, w, c, compression, predictor, byte_order, rps
):
    """TIFF is lossless under every supported compression/predictor/byte
    order/strip geometry combination, for gray and RGB, any dimensions."""
    from seoul_big_data_spark.sources.tiffcodec import (
        decode_tiff_pages,
        encode_tiff,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, c)).astype("uint8")
    dec = decode_tiff_pages(
        encode_tiff(
            img,
            compression=compression,
            predictor=predictor,
            rows_per_strip=rps,
            byte_order=byte_order,
        )
    )
    assert len(dec) == 1
    assert np.array_equal(dec[0], img)


def test_tiff_lzw_eoi_after_final_code_widens():
    """The decoder adds a table entry on reading the last data code, so when
    that entry lands on an early-change boundary (511/1023/2047) it reads
    EOI one bit wider; the encoder must write EOI at that width."""
    import random

    from seoul_big_data_spark.sources.tiffcodec import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    rnd = random.Random(3)
    data = bytes(rnd.randrange(256) for _ in range(4000))
    # replay the encoder's dictionary growth to find, for each boundary, the
    # prefix length whose final code leaves next_code on it
    table = {bytes([i]) for i in range(256)}
    next_code, prefix, cuts = 258, b"", {}
    for i, b in enumerate(data):
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
        else:
            table.add(cand)
            next_code += 1
            prefix = bytes([b])
        if next_code in (511, 1023, 2047):
            cuts.setdefault(next_code, i + 1)
    assert sorted(cuts) == [511, 1023, 2047]
    for n in cuts.values():
        assert _tiff_lzw_decode(_tiff_lzw_encode(data[:n])) == data[:n]


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    n_pages=st.integers(1, 6),
    every_k=st.integers(1, 3),
)
def test_tiff_page_sampling_property(seed, n_pages, every_k):
    """Multi-page chain walk + sampled stats: indices and exact means for
    any page count and stride."""
    from seoul_big_data_spark.sources.tiffcodec import (
        encode_tiff,
        tiff_page_stats,
    )

    rng = np.random.RandomState(seed)
    pages = [
        rng.randint(0, 256, size=(rng.randint(2, 12), rng.randint(2, 12), 3))
        .astype("uint8")
        for _ in range(n_pages)
    ]
    stats = tiff_page_stats(
        bytes(encode_tiff(pages, compression="lzw", predictor=True)),
        every_k=every_k,
    )
    assert [s["frame_idx"] for s in stats] == list(range(0, n_pages, every_k))
    for s in stats:
        src = pages[s["frame_idx"]]
        assert s["n_frames"] == n_pages
        assert (s["height"], s["width"]) == src.shape[:2]
        assert s["mean_r"] == pytest.approx(float(src[:, :, 0].mean()))


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    quality=st.integers(75, 98),
    subsampling=st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_progressive_equals_baseline_property(
    seed, h, w, quality, subsampling
):
    """A completed progressive stream must decode bit-identically to the
    baseline stream of the same source (same quantized coefficients) —
    for any geometry, quality, and subsampling."""
    from seoul_big_data_spark.sources.jpegcodec import encode_jpeg_progressive

    img = _smooth(seed, h, w)
    base = decode_jpeg_pixels(
        encode_jpeg(img, quality=quality, subsampling=subsampling)
    )
    prog = decode_jpeg_pixels(
        encode_jpeg_progressive(img, quality=quality, subsampling=subsampling)
    )
    assert np.array_equal(base, prog)


# --- FLAC -------------------------------------------------------------------


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(1, 3000),
    channels=st.sampled_from([1, 2]),
    block_size=st.sampled_from([192, 256, 512, 1024]),
    mode=st.sampled_from(["fixed", "verbatim", "lpc"]),
    stereo=st.sampled_from(
        ["independent", "left_side", "right_side", "mid_side"]
    ),
    po=st.integers(0, 3),
)
def test_flac_lossless_property(seed, n, channels, block_size, mode, stereo, po):
    """FLAC decode(encode(x)) == x for any signal, length, block size,
    subframe mode, stereo decorrelation, and partition order."""
    from seoul_big_data_spark.sources.flaccodec import (
        decode_flac_samples,
        encode_flac,
    )

    rng = np.random.RandomState(seed)
    x = rng.randint(-32768, 32768, size=n * channels)
    enc = encode_flac(
        x, 8000, channels,
        block_size=block_size,
        subframe_mode=mode,
        stereo_mode=stereo if channels == 2 else "independent",
        partition_order=po,
    )
    dec, rate, bps = decode_flac_samples(enc)
    assert (rate, bps) == (8000, 16)
    want = np.asarray(x[: n * channels]).reshape(n, channels)
    assert np.array_equal(dec, want)


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    c=st.sampled_from([1, 3]),
    quality=st.integers(70, 98),
    rps=st.integers(4, 16),
    tables=st.booleans(),
)
def test_tiff_jpeg7_parity_property(seed, h, w, c, quality, rps, tables):
    """Compression-7 TIFF decodes identically whether the DQT/DHT ride in
    every strip or in the shared JPEGTables tag, and a single-strip page
    is bit-equal to the standalone JPEG — any geometry/quality/strip
    height/channel count."""
    from seoul_big_data_spark.sources.tiffcodec import (
        decode_tiff_pages,
        encode_tiff,
    )

    img = _smooth(seed, h, w)[:, :, :c]
    plain = decode_tiff_pages(
        encode_tiff(img, compression="jpeg", quality=quality,
                    rows_per_strip=rps)
    )[0]
    abbrev = decode_tiff_pages(
        encode_tiff(img, compression="jpeg", quality=quality,
                    rows_per_strip=rps, jpeg_tables=tables)
    )[0]
    assert np.array_equal(plain, abbrev)
    single = decode_tiff_pages(
        encode_tiff(img, compression="jpeg", quality=quality)
    )[0]
    ref = decode_jpeg_pixels(encode_jpeg(img, quality=quality))
    assert np.array_equal(single[:, :, 0] if c == 1 else single,
                          ref.reshape(h, w) if c == 1 else ref)


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(8, 40),
    w=st.integers(8, 40),
    quality=st.integers(70, 98),
    subsampling=st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_12bit_parity_property(seed, h, w, quality, subsampling):
    """12-bit extended sequential: samples x16 through tables x16 give the
    same quantized coefficients as 8-bit, so the decoded top-byte view
    differs from the 8-bit twin only by final rounding (|diff| <= 1)."""
    img8 = _smooth(seed, h, w)
    d8 = decode_jpeg_pixels(
        encode_jpeg(img8, quality=quality, subsampling=subsampling)
    )
    d12 = decode_jpeg_pixels(
        encode_jpeg(img8.astype("uint16") << 4, quality=quality,
                    subsampling=subsampling, precision=12)
    )
    assert np.abs(d12.astype(int) - d8.astype(int)).max() <= 1


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    bpp=st.sampled_from([1, 4, 8]),
    rle=st.booleans(),
)
def test_bmp_palette_roundtrip_property(seed, h, w, bpp, rle):
    """Palette BMP is lossless for every bit width, geometry, and RLE
    mode (RLE is 4/8-bit only)."""
    from seoul_big_data_spark.sources.multimodal import (
        _decode_bmp_pixels,
        encode_bmp_palette,
    )

    if bpp == 1 and rle:
        rle = False
    rng = np.random.RandomState(seed)
    n = 1 << bpp
    pal = rng.randint(0, 256, size=(n, 3)).astype("uint8")
    idx = rng.randint(0, n, size=(h, w)).astype("uint8")
    dec = _decode_bmp_pixels(
        encode_bmp_palette(idx, pal, bpp=bpp, rle=rle)
    )[::-1, :, ::-1]
    assert np.array_equal(dec, pal[idx])


@_PROP
@given(
    seed=st.integers(0, 2**31 - 1),
    h=st.integers(1, 30),
    w=st.integers(1, 30),
    depth=st.sampled_from([1, 2, 4]),
    palette=st.booleans(),
    filt=st.sampled_from([None, [1, 2, 3, 4, 0]]),
)
def test_png_subbyte_property(seed, h, w, depth, palette, filt):
    """Sub-byte PNG is lossless (gray via the 255/(2^d-1) scaling, palette
    raw) for any geometry, depth, and filter pattern."""
    from seoul_big_data_spark.sources.multimodal import (
        _decode_png_pixels,
        encode_png_subbyte,
    )

    rng = np.random.RandomState(seed)
    v = rng.randint(0, 1 << depth, size=(h, w)).astype("uint8")
    if palette:
        pal = rng.randint(0, 256, size=(1 << depth, 3)).astype("uint8")
        dec = _decode_png_pixels(
            encode_png_subbyte(v, depth, palette=pal, filters=filt)
        )
        assert np.array_equal(dec, pal[v])
    else:
        dec = _decode_png_pixels(encode_png_subbyte(v, depth, filters=filt))
        assert np.array_equal(dec[:, :, 0], v * (255 // ((1 << depth) - 1)))


def test_flac_short_final_frame_partition_order():
    """Round-4 soak regression: a final frame whose size divides by
    2^partition_order but leaves the first partition no room for the
    predictor warmup ((blocksize >> po) <= order) must fall back to one
    partition — the old guard only checked divisibility, desyncing the
    stream (CRC mismatch / phantom subframe types) on e.g. a 4-sample
    tail at po=2, order 2. The decoder now also rejects such malformed
    partition orders outright."""
    import numpy as np

    from seoul_big_data_spark.sources.flaccodec import (
        decode_flac_samples,
        encode_flac,
    )

    x = [0] * 37 + [1]  # frames of 34 + 4; the 4-tail triggers the bug
    dec, _rate, _bits = decode_flac_samples(
        encode_flac(x, 8000, 1, block_size=34)
    )
    assert np.asarray(dec).reshape(-1).tolist() == x

    rng = np.random.default_rng(7)
    for bs in (16, 17, 34, 36, 68):
        for tail in (1, 2, 3, 4, 8):
            arr = rng.integers(-32768, 32768, size=bs + tail).tolist()
            dec, _r, _b = decode_flac_samples(
                encode_flac(arr, 8000, 1, block_size=bs)
            )
            assert np.asarray(dec).reshape(-1).tolist() == arr, (bs, tail)
