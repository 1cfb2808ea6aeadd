"""Pure-stdlib WAV (RIFF/PCM) codec — the audio half of the multimodal
family's REAL-decode story (the image half is `imagecodec`'s PNG/BMP/PPM
decoders). No external audio library exists in the target container, but
PCM WAV is a trivially parseable container: a RIFF chunk walk + a
little-endian sample array — so the decode path the Spark plumbing
exercises is a real byte-level decoder, not a stub, and an external SQL
oracle can reproduce its outputs arithmetically (q142).

Supported: PCM (format 1) 16-bit and 8-bit, plus the two G.711
companded telephony formats — A-law (format 6) and mu-law (format 7) —
expanded with the exact CCITT piecewise-linear segment tables (r9; the
formulas are pure integer arithmetic, so the SQL oracle replays the
expansion bit-for-bit). Other compressed formats raise — production
swaps in a codec library behind the same (bytes) -> (rate, channels,
samples) signature.
"""

from __future__ import annotations

import struct
import typing as _ty

import numpy as np

from .imagecodec import named_errors

__all__ = [
    "encode_wav",
    "decode_wav",
    "ulaw_to_linear",
    "alaw_to_linear",
]

_WAVE_FORMAT_PCM = 1
_WAVE_FORMAT_ALAW = 6
_WAVE_FORMAT_MULAW = 7


def ulaw_to_linear(b: int) -> int:
    """G.711 mu-law byte -> linear sample (the classic CCITT reference
    expansion: complement, biased mantissa shifted by the segment)."""
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def alaw_to_linear(b: int) -> int:
    """G.711 A-law byte -> linear sample (even-bit inversion, segment
    0/1 special-cased per the spec; sign bit SET means positive)."""
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


# 256-entry expansion tables (built once; vectorized lookup at decode)
_ULAW_TABLE = np.array([ulaw_to_linear(b) for b in range(256)], dtype=np.int16)
_ALAW_TABLE = np.array([alaw_to_linear(b) for b in range(256)], dtype=np.int16)


def encode_wav(
    samples: "np.ndarray", sample_rate: int, channels: int = 1
) -> bytes:
    """PCM16 little-endian WAV. ``samples`` is int16, frame-major
    (interleaved when channels > 1, total length = frames * channels)."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim != 1:
        s = s.reshape(-1)
    if len(s) % channels:
        raise ValueError("sample count not divisible by channel count")
    data = s.tobytes()
    byte_rate = sample_rate * channels * 2
    hdr = b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + len(data)),
            b"WAVE",
            b"fmt ",
            struct.pack(
                "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate,
                channels * 2, 16,
            ),
            b"data",
            struct.pack("<I", len(data)),
        ]
    )
    return hdr + data


def encode_wav_g711(
    payload: bytes, sample_rate: int, channels: int = 1, law: str = "ulaw"
) -> bytes:
    """G.711 WAV container around already-companded bytes (one byte per
    sample; ``law`` is 'ulaw' or 'alaw'). The synthesis half of the
    q159 oracle — the decoder under test must expand every byte through
    the exact segment tables."""
    if law not in ("ulaw", "alaw"):
        raise ValueError(f"unknown companding law: {law!r}")
    if len(payload) % channels:
        raise ValueError("sample count not divisible by channel count")
    tag = _WAVE_FORMAT_MULAW if law == "ulaw" else _WAVE_FORMAT_ALAW
    byte_rate = sample_rate * channels
    hdr = b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + len(payload)),
            b"WAVE",
            b"fmt ",
            struct.pack(
                "<IHHIIHH", 16, tag, channels, sample_rate, byte_rate,
                channels, 8,
            ),
            b"data",
            struct.pack("<I", len(payload)),
        ]
    )
    return hdr + payload


@named_errors("wav")
def decode_wav(data: bytes) -> _ty.Tuple[int, int, "np.ndarray"]:
    """Parse a RIFF/WAVE byte string -> (sample_rate, channels, samples)
    with samples as int16 (8-bit PCM is widened, offset-binary -> signed).
    Walks chunks properly (extra chunks like LIST/fact are skipped), so
    real-world files with metadata decode too."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= len(data):
        cid = data[pos: pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4: pos + 8])
        if pos + 8 + size > len(data):
            # a declared chunk extending past the stream is a truncated
            # file — raise rather than silently decode fewer samples
            # (wrong n_samples/duration/checksum); same contract as the
            # MP4 walker
            raise ValueError(f"truncated {cid!r} chunk")
        body = data[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _br, _ba, bits = fmt
    if audio_format == _WAVE_FORMAT_ALAW:
        if bits != 8:
            raise ValueError(f"{bits}-bit A-law is not valid G.711")
        samples = _ALAW_TABLE[np.frombuffer(raw, dtype=np.uint8)]
    elif audio_format == _WAVE_FORMAT_MULAW:
        if bits != 8:
            raise ValueError(f"{bits}-bit mu-law is not valid G.711")
        samples = _ULAW_TABLE[np.frombuffer(raw, dtype=np.uint8)]
    elif audio_format != _WAVE_FORMAT_PCM:
        raise ValueError(f"compressed WAV (format {audio_format}) unsupported")
    elif bits == 16:
        samples = np.frombuffer(raw, dtype="<i2")
    elif bits == 8:
        samples = (
            np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
        ) * 256
    else:
        raise ValueError(f"{bits}-bit PCM unsupported")
    return int(sample_rate), int(channels), samples
