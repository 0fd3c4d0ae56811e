"""PLAIN encoding per physical type, vectorized.

Byte layouts are format-defined (reference scalar writers:
/root/reference/encoding/encodingwrite.go:34-130, readers
encodingread.go:13-125):

  BOOLEAN              LSB-first bit-packed, 8 per byte
  INT32/INT64          little-endian fixed width
  FLOAT/DOUBLE         little-endian IEEE754
  BYTE_ARRAY           per value: u32 LE length + raw bytes
  FIXED_LEN_BYTE_ARRAY raw concatenation
"""

from __future__ import annotations

import numpy as np

# ---- numeric ----------------------------------------------------------------

_NUMERIC_DTYPES = {
    "int32": "<i4",
    "int64": "<i8",
    "float": "<f4",
    "double": "<f8",
}


def encode_numeric(vals: np.ndarray, phys: str) -> bytes:
    return np.ascontiguousarray(vals, dtype=_NUMERIC_DTYPES[phys]).tobytes()


def decode_numeric(buf: bytes | np.ndarray, phys: str, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    dt = np.dtype(_NUMERIC_DTYPES[phys])
    raw = memoryview(buf) if not isinstance(buf, np.ndarray) else buf
    end = pos + count * dt.itemsize
    arr = np.frombuffer(raw[pos:end], dtype=dt)
    return arr, end


# ---- boolean ----------------------------------------------------------------

def encode_bool(vals: np.ndarray) -> bytes:
    return np.packbits(np.ascontiguousarray(vals, dtype=np.uint8), bitorder="little").tobytes()


def decode_bool(buf, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    nbytes = (count + 7) // 8
    bits = np.unpackbits(raw[pos:pos + nbytes], bitorder="little")[:count]
    return bits.astype(bool), pos + nbytes


# ---- byte arrays ------------------------------------------------------------
# Internally we represent a byte-array column as (data: np.uint8 concat,
# offsets: np.int64 of len n+1) — i.e. Arrow layout, zero-copy from pyarrow.


def encode_byte_array(data: np.ndarray, offsets: np.ndarray) -> bytes:
    """u32-length-prefixed values, vectorized interleave."""
    n = offsets.size - 1
    if n == 0:
        return b""
    lens = np.diff(offsets).astype(np.int64)
    total = int(4 * n + lens.sum())
    out = np.empty(total, dtype=np.uint8)
    out_starts = np.zeros(n, dtype=np.int64)
    out_starts[1:] = np.cumsum(lens[:-1] + 4)
    # write the 4 length bytes
    l32 = lens.astype(np.uint32)
    for k in range(4):
        out[out_starts + k] = (l32 >> np.uint32(8 * k)).astype(np.uint8)
    # scatter payloads: build index map dst→src
    dst = np.arange(total, dtype=np.int64)
    # positions not occupied by length prefixes:
    occupied = np.zeros(total, dtype=bool)
    for k in range(4):
        occupied[out_starts + k] = True
    payload_dst = dst[~occupied]
    out[payload_dst] = np.asarray(data, dtype=np.uint8)[offsets[0]:offsets[-1]]
    return out.tobytes()


def decode_byte_array(buf, count: int, pos: int = 0) -> tuple[np.ndarray, np.ndarray, int]:
    """→ (data uint8, offsets int64, next_pos)."""
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    raw = raw[pos:]
    if count == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64), pos
    # the lengths walk is inherently sequential (each prefix's position
    # depends on the previous length), so make the constant factor cheap:
    # one conversion to a plain bytes object, then C-level slicing +
    # int.from_bytes per value — ~10× over per-value numpy slice/tobytes
    # on the PLAIN string decode hot path
    bv = raw.tobytes()
    lens = np.empty(count, dtype=np.int64)
    p = 0
    for i in range(count):
        ln = int.from_bytes(bv[p:p + 4], "little")
        lens[i] = ln
        p += 4 + ln
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    out = np.empty(total, dtype=np.uint8)
    src_starts = np.zeros(count, dtype=np.int64)
    src_starts[1:] = np.cumsum(lens[:-1] + 4)
    src_starts += 4
    # gather payload bytes
    idx = _ranges_to_indices(src_starts, lens)
    out[:] = raw[idx]
    return out, offsets, pos + p


def _ranges_to_indices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate ranges [starts[i], starts[i]+lens[i]) → flat index array."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    nz = lens > 0
    starts = starts[nz]
    lens = lens[nz]
    idx = np.ones(total, dtype=np.int64)
    idx[0] = starts[0]
    bounds = np.cumsum(lens)[:-1]
    idx[bounds] = starts[1:] - (starts[:-1] + lens[:-1]) + 1
    return np.cumsum(idx)
