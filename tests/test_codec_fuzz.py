"""Hostile-input fuzz for the media decoders, Spark-free: a derandomised
batch of truncations, byte flips, inflated size fields and trailing junk
over a valid stream of each format. Every case must return a valid decode
or raise a ValueError that names the format, in under a second -- never
another exception type and never an allocation the stream cannot back."""

from __future__ import annotations

import random
import time

import numpy as np
import pytest

from torcharrow_spark.operators.audiocodec import (
    decode_wav,
    encode_wav,
    encode_wav_g711,
)
from torcharrow_spark.operators.imagecodec import (
    decode_image,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_ppm,
    sniff_format,
)
from torcharrow_spark.operators.jpegcodec import encode_jpeg_blocks

CASES_PER_FORMAT = 1500
_rng = np.random.RandomState(11)
_RGB = _rng.randint(0, 256, size=(6, 7, 3)).astype(np.uint8)
_DC = _rng.randint(-40, 40, size=(2, 2))
_AC = _rng.randint(-9, 10, size=(2, 2))

SEEDS = {
    "png": [encode_png(_RGB), encode_png(_RGB[:, :, 0], filter_type=4)],
    "bmp": [encode_bmp(_RGB)],
    "ppm": [encode_ppm(_RGB), b"P3\n2 1\n255\n1 2 3 4 5 6\n"],
    "gif": [encode_gif(_RGB[:, :, 0]), encode_gif(_RGB[:, :, 1], interlace=True)],
    "jpeg": [
        encode_jpeg_blocks(_DC, _AC),
        encode_jpeg_blocks(_DC, _AC, color=(100, 150), subsample=True),
        encode_jpeg_blocks(_DC, _AC, progressive=True, restart_interval=1),
    ],
    "wav": [
        encode_wav(np.arange(-40, 40, dtype=np.int16) * 300, 8000, 2),
        encode_wav_g711(bytes(range(0, 256, 3)), 8000, 1, law="alaw"),
    ],
}


def _mutate(rnd: random.Random, data: bytes) -> bytes:
    b = bytearray(data)
    kind = rnd.randrange(4)
    if kind == 0:  # truncation
        return bytes(b[: rnd.randrange(len(b))])
    if kind == 1:  # byte flips
        for _ in range(rnd.randint(1, 4)):
            b[rnd.randrange(len(b))] = rnd.randrange(256)
        return bytes(b)
    if kind == 2:  # an inflated size field (2 or 4 bytes, either order)
        at = rnd.randrange(len(b))
        b[at : at + rnd.choice((2, 4))] = rnd.choice(
            (b"\xff\xff", b"\x7f\xff\xff\xff", b"\xff\xff\xff\x7f", b"\x00\x40")
        )
        return bytes(b)
    return bytes(b) + bytes(rnd.randrange(256) for _ in range(rnd.randint(1, 64)))


def _decode(fmt, data):
    if fmt == "wav":
        rate, channels, samples = decode_wav(data)
        assert samples.dtype == np.int16 and samples.ndim == 1
        return
    w, h, px = decode_image(data)
    assert px.dtype == np.uint8 and px.shape[:2] == (h, w)


@pytest.mark.parametrize("fmt", sorted(SEEDS))
def test_decoders_fail_named_and_bounded(fmt):
    for seed in SEEDS[fmt]:
        _decode(fmt, seed)  # the unmutated stream decodes
    rnd = random.Random(f"codec-fuzz-{fmt}")
    for i in range(CASES_PER_FORMAT):
        data = _mutate(rnd, SEEDS[fmt][i % len(SEEDS[fmt])])
        named = "wav" if fmt == "wav" else (sniff_format(data) or "png, bmp")
        t0 = time.perf_counter()
        try:
            _decode(fmt, data)
        except ValueError as e:
            assert named in str(e).lower(), (i, data, e)
        assert time.perf_counter() - t0 < 1.0, (i, data)


def _huge(fmt):
    """A stream whose header declares 65535x65535 (BMP: 100000 square)
    pixels over a body of a few dozen bytes."""
    if fmt == "bmp":
        b = bytearray(encode_bmp(_RGB[:2, :2]))
        b[18:26] = (100_000).to_bytes(4, "little") * 2
        return bytes(b)
    if fmt == "ppm":
        return b"P6\n65535 65535\n255\n" + bytes(48)
    b = bytearray(encode_jpeg_blocks(_DC, _AC))
    sof = b.index(b"\xff\xc0")
    b[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"
    return bytes(b)


@pytest.mark.parametrize("fmt", ["bmp", "jpeg", "ppm"])
def test_declared_size_beyond_the_stream_is_rejected(fmt, monkeypatch):
    """The declared size is checked against the stream's length before
    any pixel array is allocated."""
    real_zeros, sizes = np.zeros, []

    def zeros(shape, *a, **k):
        sizes.append(int(np.prod(shape)))
        return real_zeros(shape, *a, **k)

    monkeypatch.setattr(np, "zeros", zeros)
    with pytest.raises(ValueError, match=f"(?i){fmt} declares"):
        decode_image(_huge(fmt))
    assert max(sizes, default=0) < 1 << 20
