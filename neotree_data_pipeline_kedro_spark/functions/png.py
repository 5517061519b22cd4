"""Minimal pure-stdlib PNG codec (zlib + struct + numpy).

Exists so the multimodal operators can do REAL byte-level decode work in an
environment without PIL/opencv: the engine's image path (encode for test
synthesis, decode/frame-sample in operators/multimodal.py) runs on
actual PNG bytes end-to-end. Supported: 8-bit non-interlaced greyscale
(color type 0), RGB (2), and RGBA (6); all five scanline filters on decode,
filter 0 on encode (what this encoder emits; foreign PNGs with Sub/Up/Avg/
Paeth decode via the reference filter recurrences).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, {1,3,4}) → PNG bytes (filter 0)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * ch)], axis=1
    ).tobytes()
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (h, w, channels). Raises ValueError on
    non-PNG input or unsupported variants (palette, 16-bit, interlace)."""
    if not data or bytes(data[:8]) != _SIG:
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        payload = bytes(data[pos + 8 : pos + 8 + ln])
        pos += 12 + ln
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype not in _CHANNELS or interlace:
                raise ValueError("unsupported PNG variant")
            ch = _CHANNELS[ctype]
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * ch
    rows = raw.reshape(height, stride + 1)
    filters, scan = rows[:, 0], rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f, line = int(filters[y]), scan[y]
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 2:  # Up — fully vectorized
            out[y] = line + prev
        elif f == 1:  # Sub — prefix sum per channel phase (mod-256 cumsum)
            v = line.reshape(-1, ch)
            out[y] = np.cumsum(v.astype(np.uint64), axis=0).astype(np.uint8).reshape(-1)
        else:  # Average / Paeth need the sequential left neighbor
            row = out[y]
            for x in range(stride):
                a = int(row[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if f == 3:
                    row[x] = (int(line[x]) + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    row[x] = (int(line[x]) + _paeth(a, b, c)) & 0xFF
    return out.reshape(height, width, ch)


# --- minimal WAV (RIFF/PCM16) codec: the audio twin of the PNG path -------


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """int16 mono samples → RIFF/WAVE PCM16 bytes."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16,
        1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM16 mono bytes → (sample_rate, int16 samples). Raises
    ValueError on non-WAV input or unsupported variants (stereo, non-PCM)."""
    if len(data) < 44 or bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        tag = bytes(data[pos : pos + 4])
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = bytes(data[pos + 8 : pos + 8 + ln])
        pos += 8 + ln + (ln & 1)
        if tag == b"fmt ":
            fmt, nch, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt != 1 or nch != 1 or bits != 16:
                raise ValueError("unsupported WAV variant")
        elif tag == b"data":
            samples = np.frombuffer(body, dtype="<i2")
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


# --- trivial deterministic video container: frames as length-prefixed PNGs --

_VID_MAGIC = b"VID0"


def encode_video(frames: list[np.ndarray], frame_ms: int = 40) -> bytes:
    """Frames (uint8 arrays) → ``VID0 | frame_ms u32 | n u32 | {len u32,
    png}*`` — a deterministic stand-in container so frame-sampling logic is
    real even without ffmpeg."""
    payloads = [encode_png(f) for f in frames]
    head = _VID_MAGIC + struct.pack(">II", frame_ms, len(payloads))
    return head + b"".join(struct.pack(">I", len(p)) + p for p in payloads)


def decode_video(data: bytes) -> tuple[int, list[bytes]]:
    """→ (frame_ms, [png bytes per frame])."""
    if not data or bytes(data[:4]) != _VID_MAGIC:
        raise ValueError("not a VID0 container")
    frame_ms, n = struct.unpack(">II", data[4:12])
    pos, frames = 12, []
    for _ in range(n):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        frames.append(bytes(data[pos + 4 : pos + 4 + ln]))
        pos += 4 + ln
    return frame_ms, frames
