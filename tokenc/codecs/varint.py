"""ULEB128 varints + zigzag, vectorized over numpy arrays.

Byte format matches the Parquet spec (and the reference's scalar
implementation, /root/reference/encoding/encodingwrite.go:132-147 /
encodingread.go:127-143): 7-bit groups, LSB group first, MSB of each byte is
the continuation bit.
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # ceil(64 / 7)


def encode_uvarint(num: int) -> bytes:
    """Scalar ULEB128 encode (headers, small values)."""
    num = int(num)
    if num < 0:
        raise ValueError("uvarint requires non-negative input")
    out = bytearray()
    while True:
        b = num & 0x7F
        num >>= 7
        if num:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_uvarint(buf, pos: int = 0) -> tuple[int, int]:
    """Scalar decode. Returns (value, next_pos)."""
    result = 0
    shift = 0
    while True:
        b = int(buf[pos])
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def uvarint_matrix(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ULEB128: returns (byte matrix (n, 10) uint8, nbytes (n,)).

    Row i's first nbytes[i] columns are value i's varint bytes.
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = vals.size
    nbits = np.zeros(n, dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp != 0
        if not nz.any():
            break
        nbits[nz] += 7
        tmp >>= np.uint64(7)
    nbytes = np.maximum(nbits // 7, 1)
    shifts = np.arange(_MAX_VARINT_BYTES, dtype=np.uint64) * np.uint64(7)
    groups = ((vals[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    j = np.arange(_MAX_VARINT_BYTES)
    cont = j[None, :] < (nbytes[:, None] - 1)
    groups |= cont.astype(np.uint8) << 7
    return groups, nbytes


def zigzag_encode(vals: np.ndarray) -> np.ndarray:
    """Signed → unsigned zigzag ((n << 1) ^ (n >> (w-1))), result uint64."""
    vals = np.ascontiguousarray(vals, dtype=np.int64)
    u = vals.view(np.uint64)
    return (u << np.uint64(1)) ^ (vals >> 63).view(np.uint64)


def zigzag_encode_scalar(num: int, bits: int = 64) -> int:
    mask = (1 << bits) - 1
    return ((num << 1) ^ (num >> (bits - 1))) & mask


def zigzag_decode_scalar(u: int) -> int:
    return (u >> 1) ^ -(u & 1)
