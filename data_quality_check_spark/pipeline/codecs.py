"""Image codecs for the image+caption pipeline.

The sandbox has no image libraries (PIL/cv2 absent), so the pipeline ships a
deterministic self-contained codec family and uses PIL only when importable
(`HAVE_PIL`). The fixture generator encodes with these codecs and the decode-check
stage decodes with them, so the PSNR≥40dB invariant on lossy formats is real math,
not a mock:

  * fmt="bmp"  — raw RGB bytes (lossless)
  * fmt="png"  — zlib-compressed raw RGB (lossless, real compression)
  * fmt="jpeg" — quantize each channel to steps of 4 then zlib (lossy;
                 max error 2/channel → PSNR = 10·log10(255²/1.5) ≈ 46.4 dB)

Header: magic(4) | w uint32 LE | h uint32 LE, then payload.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

try:  # pragma: no cover - not present in sandbox
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MAGIC = {"bmp": b"FBMP", "png": b"FPNG", "jpeg": b"FJPG"}
_FMT_BY_MAGIC = {v: k for k, v in MAGIC.items()}
JPEG_Q = 4  # quantization step


def encode(arr: np.ndarray, fmt: str) -> bytes:
    """arr: (h, w, 3) uint8 → encoded bytes."""
    h, w = arr.shape[:2]
    head = MAGIC[fmt] + struct.pack("<II", w, h)
    if fmt == "bmp":
        return head + arr.tobytes()
    if fmt == "png":
        return head + zlib.compress(arr.tobytes(), 6)
    if fmt == "jpeg":
        q = (arr // JPEG_Q) * JPEG_Q + JPEG_Q // 2
        return head + zlib.compress(q.astype(np.uint8).tobytes(), 6)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes) -> np.ndarray | None:
    """Encoded bytes → (h, w, 3) uint8 array, or None if corrupt/truncated."""
    try:
        if data is None or len(data) < 12:
            return None
        fmt = _FMT_BY_MAGIC.get(bytes(data[:4]))
        if fmt is None:
            return None
        w, h = struct.unpack("<II", bytes(data[4:12]))
        payload = bytes(data[12:])
        if fmt != "bmp":
            payload = zlib.decompress(payload)
        expected = w * h * 3
        if len(payload) != expected:
            return None
        return np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3)
    except Exception:
        return None


def average_hash(arr: np.ndarray, grid: int = 8) -> int:
    """64-bit perceptual average-hash (signed int64 for the `phash` column):
    grayscale → 8×8 block means → bit per cell vs global mean."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(grid + 1) * h // grid).clip(1)
    xs = (np.arange(grid + 1) * w // grid).clip(1)
    cells = np.empty((grid, grid))
    for i in range(grid):
        for j in range(grid):
            y0, y1 = min(ys[i] - 1, h - 1), max(ys[i + 1], ys[i])
            x0, x1 = min(xs[j] - 1, w - 1), max(xs[j + 1], xs[j])
            cells[i, j] = gray[y0:y1, x0:x1].mean()
    bits = (cells > cells.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val
