"""Parquet RLE / bit-packed hybrid, vectorized.

Stream grammar (format-defined; the reference's scalar writer is at
/root/reference/encoding/encodingwrite.go:149-214, reader at
encodingread.go:146-268):

    run        := rle-run | bitpacked-run
    rle-run    := uvarint(count << 1) + value[ceil(width/8) bytes LE]
    bitpacked  := uvarint(groups << 1 | 1) + packed(groups * 8 values, LSB-first)

The encoder picks between two strategies per call:
  * pure-RLE (reference style: every run becomes an rle-run) when runs are
    long on average — fully vectorized, no per-run Python;
  * hybrid: long runs (>=8) become rle-runs, stretches of short runs are
    bit-packed in whole groups of 8 with the <8-value remainder emitted as
    tiny rle-runs (mid-stream padding is not decodable, so we never pad
    except implicitly at end-of-stream truncation by count).

The decoder handles any mix of both run kinds (spec-complete).
"""

from __future__ import annotations

import numpy as np

from . import bitpack
from .varint import decode_uvarint, encode_uvarint, uvarint_matrix

_MAXV = 10  # max varint bytes


def _value_bytes(width: int) -> int:
    return (width + 7) // 8


def _run_bounds(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run starts and lengths of equal-value runs."""
    n = vals.size
    change = np.flatnonzero(vals[1:] != vals[:-1])
    starts = np.concatenate(([0], change + 1))
    lens = np.diff(np.concatenate((starts, [n])))
    return starts, lens


def _encode_pure_rle(run_vals: np.ndarray, run_lens: np.ndarray, width: int) -> bytes:
    """All runs as rle-runs — vectorized header+value assembly."""
    vbytes = _value_bytes(width)
    headers = (run_lens.astype(np.uint64) << np.uint64(1))
    hmat, hlen = uvarint_matrix(headers)
    nruns = run_vals.size
    # value little-endian bytes
    vmat = np.empty((nruns, vbytes), dtype=np.uint8)
    rv = run_vals.astype(np.uint64)
    for k in range(vbytes):
        vmat[:, k] = (rv >> np.uint64(8 * k)).astype(np.uint8)
    full = np.concatenate((hmat, vmat), axis=1)
    j = np.arange(_MAXV + vbytes)
    keep = (j[None, :] < hlen[:, None]) | (j[None, :] >= _MAXV)
    return full[keep].tobytes()


def _pack(seg: np.ndarray, width: int) -> bytes:
    """Width-adaptive packing: 32-bit lanes halve the memory traffic for
    the dict-codes hot path (width ≤ 32 always there)."""
    if width <= 32:
        return bitpack.pack32(seg.astype(np.uint32), width)
    return bitpack.pack(seg, width)


def encode(vals: np.ndarray, width: int) -> bytes:
    """Encode to the hybrid stream (no framing prefix)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = vals.size
    if n == 0:
        return b""
    if width == 0:
        # all values are 0; one rle-run carries everything, zero value bytes
        return encode_uvarint(n << 1)
    if n >= 8192:
        # high-entropy fast path: sample three windows; if runs are ~1
        # everywhere, skip the full O(n) run scan and emit one bit-packed
        # stream (+ <8-value remainder) directly — dict codes of Zipfian
        # token ids land here
        w = 2048
        smp = np.concatenate((vals[:w], vals[n // 2:n // 2 + w], vals[-w:]))
        runs = 1 + int((smp[1:] != smp[:-1]).sum())
        if runs >= int(smp.size * 0.9):
            g = n // 8
            out = [encode_uvarint(g << 1 | 1), _pack(vals[: g * 8], width)]
            rem = vals[g * 8:]
            for i in range(rem.size):  # ≤ 7 values
                out.append(encode_uvarint(2))
                out.append(int(rem[i]).to_bytes(_value_bytes(width), "little"))
            return b"".join(out)
    starts, lens = _run_bounds(vals)
    run_vals = vals[starts]
    if lens.mean() >= 4.0:
        return _encode_pure_rle(run_vals, lens, width)

    # hybrid: group consecutive short runs into bit-packed segments
    long_mask = lens >= 8
    out: list[bytes] = []
    nruns = starts.size
    # segment boundaries: a new segment wherever long-ness changes
    seg_change = np.empty(nruns, dtype=bool)
    seg_change[0] = True
    seg_change[1:] = long_mask[1:] != long_mask[:-1]
    seg_first = np.flatnonzero(seg_change)
    seg_last = np.concatenate((seg_first[1:] - 1, [nruns - 1]))
    for f, l in zip(seg_first, seg_last):
        if long_mask[f]:
            # each long run its own rle-run
            for r in range(f, l + 1):
                out.append(encode_uvarint(int(lens[r]) << 1))
                out.append(int(run_vals[r]).to_bytes(_value_bytes(width), "little"))
        else:
            s = int(starts[f])
            e = int(starts[l] + lens[l])
            seg = vals[s:e]
            g = seg.size // 8
            if g:
                out.append(encode_uvarint(g << 1 | 1))
                out.append(_pack(seg[: g * 8], width))
            rem = seg[g * 8:]
            if rem.size:
                rs, rl = _run_bounds(rem)
                for i in range(rs.size):
                    out.append(encode_uvarint(int(rl[i]) << 1))
                    out.append(int(rem[rs[i]]).to_bytes(_value_bytes(width), "little"))
    return b"".join(out)


def decode(buf: bytes | np.ndarray, width: int, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode `count` values. Returns (uint64 array, next_pos).

    Bit-packed runs may overshoot `count` at end of stream (groups of 8);
    excess is truncated, matching the spec.

    Two-pass: a cheap sequential header walk records run layout, then all
    rle-runs expand via one np.repeat and all bit-packed spans unpack
    vectorized — no per-run array allocation.
    """
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    vbytes = _value_bytes(width)
    # pass 1: header walk
    kinds: list[int] = []        # 0=rle, 1=bitpack
    lens: list[int] = []         # values contributed
    rle_vals: list[int] = []     # value per rle run
    bp_spans: list[tuple[int, int, int]] = []  # (byte_pos, nbytes, nvals)
    got = 0
    while got < count:
        header, pos = decode_uvarint(raw, pos)
        if header & 1:
            nvals = (header >> 1) * 8
            nbytes = nvals * width // 8
            bp_spans.append((pos, nbytes, nvals))
            kinds.append(1)
            lens.append(nvals)
            pos += nbytes
        else:
            runlen = header >> 1
            if vbytes:
                v = int.from_bytes(raw[pos:pos + vbytes].tobytes(), "little")
                pos += vbytes
            else:
                v = 0
            rle_vals.append(v)
            kinds.append(0)
            lens.append(runlen)
        got += lens[-1]
    if not kinds:
        return np.empty(0, dtype=np.uint64), pos
    kinds_a = np.array(kinds, dtype=np.int8)
    lens_a = np.array(lens, dtype=np.int64)
    total = int(lens_a.sum())
    out = np.empty(total, dtype=np.uint64)
    starts = np.zeros(lens_a.size, dtype=np.int64)
    np.cumsum(lens_a[:-1], out=starts[1:])
    is_rle = kinds_a == 0
    if is_rle.any():
        rl = lens_a[is_rle]
        dst = _expand_ranges(starts[is_rle], rl)
        out[dst] = np.repeat(np.array(rle_vals, dtype=np.uint64), rl)
    if bp_spans:
        bpos = np.array([s[0] for s in bp_spans], dtype=np.int64)
        bbytes = np.array([s[1] for s in bp_spans], dtype=np.int64)
        src = _expand_ranges(bpos, bbytes)
        nvals_total = int(lens_a[~is_rle].sum())
        vals = bitpack.unpack(np.ascontiguousarray(raw[src]), width, nvals_total)
        dst = _expand_ranges(starts[~is_rle], lens_a[~is_rle])
        out[dst] = vals
    return out[:count], pos


def _expand_ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate [start, start+len) ranges into one index array
    (shared cumsum-trick kernel, defined once in plain.py)."""
    from .plain import _ranges_to_indices

    return _ranges_to_indices(starts, lens)
