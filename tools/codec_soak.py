"""Randomized cross-codec soak: hammer every lossless roundtrip path
with random geometry and content far beyond the unit tests' fixed
cases. Found (round 4): the FLAC encoder desynced whole streams when a
short final frame satisfied the partition-order divisibility check but
left the first Rice partition no room for the predictor warmup.

Usage: python tools/codec_soak.py [n_trials]   (default 120, ~2 min)
Exit code 0 iff zero failures.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from seoul_big_data_spark.sources.aiffcodec import (  # noqa: E402
    decode_aiff,
    encode_aiff,
)
from seoul_big_data_spark.sources.aucodec import decode_au, encode_au  # noqa: E402
from seoul_big_data_spark.sources.flaccodec import (  # noqa: E402
    decode_flac_samples,
    encode_flac,
)
from seoul_big_data_spark.sources.gifcodec import (  # noqa: E402
    decode_gif_frames,
    encode_gif,
)
from seoul_big_data_spark.sources.icocodec import (  # noqa: E402
    decode_ico_pixels,
    encode_ico,
)
from seoul_big_data_spark.sources.jpegcodec import (  # noqa: E402
    decode_jpeg_pixels,
    encode_jpeg_lossless,
)
from seoul_big_data_spark.sources.multimodal import (  # noqa: E402
    _decode_pixels_rgb,
    encode_bmp_array,
    encode_png,
)
from seoul_big_data_spark.sources.pcxcodec import (  # noqa: E402
    decode_pcx_pixels,
    encode_pcx,
)
from seoul_big_data_spark.sources.qoicodec import (  # noqa: E402
    decode_qoi_pixels,
    encode_qoi,
)
from seoul_big_data_spark.sources.tgacodec import (  # noqa: E402
    decode_tga_pixels,
    encode_tga,
)
from seoul_big_data_spark.sources.tiffcodec import (  # noqa: E402
    decode_tiff_pages,
    encode_tiff,
)


def main() -> int:
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    rng = np.random.default_rng()
    fails = 0
    for trial in range(n_trials):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        flavor = trial % 3
        if flavor == 0:  # full-range noise (worst case for categories)
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        elif flavor == 1:  # flat regions (worst case for RLE/runs)
            img = np.full((h, w, 3), rng.integers(0, 256), dtype=np.uint8)
            img[h // 2:, :] = rng.integers(0, 256)
        else:  # ramps (worst case for predictors/diffs)
            ramp = (np.arange(h * w * 3) * int(rng.integers(1, 7))) % 256
            img = ramp.astype(np.uint8).reshape(h, w, 3)
        pred = int(rng.integers(1, 8))
        cases = [
            ("bmp", lambda: _decode_pixels_rgb(encode_bmp_array(img))),
            ("png", lambda: _decode_pixels_rgb(encode_png(img))),
            ("tga", lambda: decode_tga_pixels(
                encode_tga(img, rle=bool(trial % 2)))),
            ("qoi", lambda: decode_qoi_pixels(encode_qoi(img))),
            ("pcx", lambda: decode_pcx_pixels(encode_pcx(img))),
            ("tiff-lzw", lambda: decode_tiff_pages(
                encode_tiff(img, compression="lzw", predictor=True))[0]),
            ("tiff-packbits", lambda: decode_tiff_pages(
                encode_tiff(img, compression="packbits"))[0]),
            ("tiff-deflate", lambda: decode_tiff_pages(
                encode_tiff(img, compression="deflate"))[0]),
            ("jpeg-lossless", lambda: decode_jpeg_pixels(
                encode_jpeg_lossless(img, predictor=pred))),
            ("tiff-jpeg-lossless", lambda: decode_tiff_pages(
                encode_tiff(img, compression="jpeg_lossless"))[0]),
        ]
        if len(np.unique(img.reshape(-1, 3), axis=0)) <= 256:
            cases.append(("gif", lambda: decode_gif_frames(
                encode_gif(img[None]))[0]))
        if h <= 256 and w <= 256:
            cases.append(("ico", lambda: decode_ico_pixels(
                encode_ico([encode_bmp_array(img)]))))
        for name, fn in cases:
            try:
                assert np.array_equal(fn(), img), "pixels differ"
            except Exception:
                fails += 1
                print(f"FAIL {name} trial={trial} h={h} w={w} flavor={flavor}")
                traceback.print_exc(limit=3)

        n = int(rng.integers(1, 2000))
        ch = int(rng.integers(1, 3))
        x = rng.integers(-32768, 32768, size=n * ch, dtype=np.int16)
        bs = int(rng.integers(16, 512))
        try:
            dec, _r, _b = decode_flac_samples(
                encode_flac(x.tolist(), 8000, ch, block_size=bs)
            )
            d = np.asarray(dec).reshape(-1).astype(np.int16)
            assert np.array_equal(d, x), "flac samples differ"
        except Exception:
            fails += 1
            print(f"FAIL flac trial={trial} n={n} ch={ch} bs={bs}")
            traceback.print_exc(limit=3)
        for name, fn in [
            ("aiff", lambda: decode_aiff(encode_aiff(8000, ch, x))),
            ("au", lambda: decode_au(encode_au(8000, ch, x, encoding=3))),
        ]:
            try:
                assert fn()["n_samples"] == n, "sample count differs"
            except Exception:
                fails += 1
                print(f"FAIL {name} trial={trial}")
                traceback.print_exc(limit=3)

        # tier 2: palette / deep / multi-channel variants
        from seoul_big_data_spark.sources.multimodal import (
            _decode_bmp_pixels,
            _decode_png_pixels,
            encode_bmp_palette,
            encode_png16,
            encode_png_palette,
        )

        pal_n = int(rng.integers(2, 257))
        pal = rng.integers(0, 256, size=(pal_n, 3), dtype=np.uint8)
        idx = rng.integers(0, pal_n, size=(h, w), dtype=np.uint8)
        a16 = rng.integers(0, 65536, size=(h, w, 3), dtype=np.uint16)
        deep_cases = [
            ("png-palette", lambda: _decode_png_pixels(
                encode_png_palette(idx, pal))[:, :, :3], pal[idx]),
            ("png16-topbyte", lambda: _decode_png_pixels(
                encode_png16(a16))[:, :, :3], (a16 >> 8).astype(np.uint8)),
            ("tiff16-topbyte", lambda: decode_tiff_pages(
                encode_tiff(a16, compression="lzw", predictor=True))[0],
                (a16 >> 8).astype(np.uint8)),
            ("tga-palette", lambda: decode_tga_pixels(
                encode_tga(idx, depth=8, rle=bool(trial % 2),
                           palette=pal)), pal[idx]),
            ("pcx-palette", lambda: decode_pcx_pixels(
                encode_pcx(idx, palette=np.vstack(
                    [pal, np.zeros((256 - pal_n, 3), np.uint8)]))), pal[idx]),
        ]
        if pal_n <= 256:
            rle = bool(trial % 2) and pal_n <= 256
            deep_cases.append(
                ("bmp-palette8", lambda: _decode_bmp_pixels(
                    encode_bmp_palette(idx, pal, bpp=8, rle=rle)
                )[::-1, :, ::-1], pal[idx])
            )
        for name, fn, want in deep_cases:
            try:
                assert np.array_equal(fn(), want), "pixels differ"
            except Exception:
                fails += 1
                print(f"FAIL {name} trial={trial} h={h} w={w} pal={pal_n}")
                traceback.print_exc(limit=3)

        # multi-channel FLAC + stereo decorrelation modes
        ch4 = int(rng.integers(1, 5))
        x4 = rng.integers(-32768, 32768, size=n * ch4, dtype=np.int16)
        mode = (
            ["independent", "left_side", "right_side", "mid_side"][trial % 4]
            if ch4 == 2
            else "independent"
        )
        try:
            dec, _r, _b = decode_flac_samples(
                encode_flac(x4.tolist(), 8000, ch4, block_size=bs,
                            stereo_mode=mode)
            )
            d = np.asarray(dec).reshape(-1).astype(np.int16)
            assert np.array_equal(d, x4), "flac multichannel differs"
        except Exception:
            fails += 1
            print(f"FAIL flac-mc trial={trial} ch={ch4} mode={mode} bs={bs}")
            traceback.print_exc(limit=3)

    print(f"soak done: {n_trials} trials, {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
