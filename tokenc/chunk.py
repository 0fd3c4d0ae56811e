"""Chunk container: header + validity + list offsets + encoded payload + stats.

The reference's page/chunk machinery (null stripping layout/page.go:196-216,
RL/DL encode :218-238, stats accumulation :87-123, chunk roll-up
layout/chunk.go:18-80) re-expressed for the Arrow data model:

  * Dremel repetition/definition levels collapse to (validity bitmap, list
    offsets) for the one nested shape we support (`tokens: array<int32>`,
    max RL 1). null-list vs empty-list: null rows are absent from the
    offsets (validity bit 0); empty lists are zero-length offset spans —
    provably equivalent to DL∈{0,1,2} of a nullable one-level LIST.
  * Values are stored null-stripped (only valid slots), like the reference.
  * Per-chunk stats (min/max/null_count/sizes) ride in the manifest, the
    ColumnIndex/OffsetIndex analog (reference writer/writer.go:418-481).

Blob layout (little-endian):
    magic 'TKC1' | u8 version=1 | u8 codec_id | u8 phys | u8 flags
    u32 n_rows | u32 n_values | u32 null_count
    [flags&1 HAS_NULLS]  u32 len + validity bitmap (LSB-first, over rows)
    [flags&2 IS_LIST]    u32 len + delta_bp(list lengths, one per valid row)
    u32 len + payload
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import codecs
from . import compress as compress_mod
from .codecs import bss, delta_ba, delta_bp, dict_codec, for_bp, fsst, plain, rle, rle_soa

MAGIC = b"TKC1"
VERSION = 1
F_HAS_NULLS = 1
F_IS_LIST = 2
F_COMPRESSED = 4  # payload section is block-compressed (compress.py framing)
F_PAGED = 8       # payload section is a page directory + per-page payloads
F_ELEM_NULLS = 16  # list columns: per-ELEMENT validity bitmap section
                   # (Dremel DL between empty and value — null list elements
                   # / null map values; reference layout/page.go:196-216
                   # generalized to max DL 3). list_lengths count ALL
                   # element slots; values hold only non-null elements.

# Paged payload section layout (the reference's 8KiB-page ColumnIndex/
# OffsetIndex analog at sub-chunk granularity, writer/writer.go:418-481;
# skip-without-decode reader/columnbuffer.go:158-230):
#     u32 n_pages | u32 page_rows
#     per page: u32 n_values | u32 byte_len | 8B min | 8B max
#               (min/max in the column's own dtype — exact, not lossy f64;
#                zeros for byte_array/bool)
#     concatenated per-page payloads, each encoded with the chunk's codec
PAGE_ENTRY = 24

_NUMERIC_PHYS = {codecs.PHYS_INT32: "int32", codecs.PHYS_INT64: "int64",
                 codecs.PHYS_FLOAT: "float", codecs.PHYS_DOUBLE: "double"}
_NUMERIC_DTYPE = {codecs.PHYS_INT32: np.int32, codecs.PHYS_INT64: np.int64,
                  codecs.PHYS_FLOAT: np.float32, codecs.PHYS_DOUBLE: np.float64}
_ITEMSIZE = {codecs.PHYS_INT32: 4, codecs.PHYS_INT64: 8, codecs.PHYS_FLOAT: 4,
             codecs.PHYS_DOUBLE: 8, codecs.PHYS_BOOL: 1}


@dataclass
class ChunkData:
    """Decoded chunk: null-stripped values + row structure."""
    phys: int
    n_rows: int
    validity: np.ndarray | None          # bool per row, None = all valid
    list_lengths: np.ndarray | None      # int64 per valid row (lists only)
    values: np.ndarray | None = None     # numeric/bool leaf values
    ba_data: np.ndarray | None = None    # byte_array payloads
    ba_offsets: np.ndarray | None = None
    elem_validity: np.ndarray | None = None  # bool per element slot (lists)


@dataclass
class ChunkStats:
    codec: int
    phys: int
    n_rows: int
    n_values: int
    null_count: int
    raw_bytes: int
    enc_bytes: int
    min_val: object = None
    max_val: object = None


def _encode_payload(codec: int, phys: int, values, ba_data, ba_offsets) -> bytes:
    if phys == codecs.PHYS_BYTE_ARRAY:
        if codec == codecs.PLAIN:
            return plain.encode_byte_array(ba_data, ba_offsets)
        if codec == codecs.DICT:
            return dict_codec.encode_binary(ba_data, ba_offsets)
        if codec == codecs.FSST:
            return fsst.encode(ba_data, ba_offsets)
        if codec == codecs.DLBA:
            return delta_ba.encode_dlba(ba_data, ba_offsets)
        if codec == codecs.DBA:
            return delta_ba.encode_dba(ba_data, ba_offsets)
        raise ValueError(f"codec {codec} unsupported for byte_array")
    if phys == codecs.PHYS_BOOL:
        if codec == codecs.PLAIN:
            return plain.encode_bool(values)
        if codec == codecs.RLE:
            return rle.encode(np.asarray(values, dtype=np.uint64), 1)
        raise ValueError(f"codec {codec} unsupported for bool")
    pname = _NUMERIC_PHYS[phys]
    if codec == codecs.PLAIN:
        return plain.encode_numeric(values, pname)
    if codec == codecs.DICT:
        return dict_codec.encode_numeric(np.asarray(values, _NUMERIC_DTYPE[phys]), pname)
    if codec == codecs.DELTA_BP:
        if phys == codecs.PHYS_INT32:
            return delta_bp.encode(np.asarray(values, np.int32), bits=32)
        return delta_bp.encode(np.asarray(values, np.int64), bits=64)
    if codec == codecs.RLE:
        vals = np.asarray(values, np.int64)
        width = int(vals.max()).bit_length() if vals.size and vals.max() > 0 else 0
        return bytes([width]) + rle.encode(vals.view(np.uint64), width)
    if codec == codecs.RLES:
        if phys not in (codecs.PHYS_INT32, codecs.PHYS_INT64):
            raise ValueError("rle_soa on non-integer physical type")
        return rle_soa.encode(np.asarray(values, _NUMERIC_DTYPE[phys]))
    if codec == codecs.BSS:
        return bss.encode(values, pname)
    if codec == codecs.FOR:
        if phys not in (codecs.PHYS_INT32, codecs.PHYS_INT64):
            raise ValueError("for_bp on non-integer physical type")
        return for_bp.encode(values)
    raise ValueError(f"codec {codec} unsupported for {pname}")


def _decode_payload(codec: int, phys: int, buf: np.ndarray, n_values: int):
    """→ (values, ba_data, ba_offsets)."""
    if phys == codecs.PHYS_BYTE_ARRAY:
        if codec == codecs.PLAIN:
            d, o, _ = plain.decode_byte_array(buf, n_values)
        elif codec == codecs.DICT:
            d, o, _ = dict_codec.decode_binary(buf, n_values)
        elif codec == codecs.FSST:
            d, o, _ = fsst.decode(buf, n_values)
        elif codec == codecs.DLBA:
            d, o, _ = delta_ba.decode_dlba(buf, n_values)
        elif codec == codecs.DBA:
            d, o, _ = delta_ba.decode_dba(buf, n_values)
        else:
            raise ValueError(f"codec {codec} unsupported for byte_array")
        return None, d, o
    if phys == codecs.PHYS_BOOL:
        if codec == codecs.PLAIN:
            v, _ = plain.decode_bool(buf, n_values)
        else:
            v = rle.decode(buf, 1, n_values)[0].astype(bool)
        return v, None, None
    pname = _NUMERIC_PHYS[phys]
    if codec == codecs.PLAIN:
        v, _ = plain.decode_numeric(np.ascontiguousarray(buf), pname, n_values)
    elif codec == codecs.DICT:
        v, _ = dict_codec.decode_numeric(buf, pname, n_values)
    elif codec == codecs.DELTA_BP:
        bits = 32 if phys == codecs.PHYS_INT32 else 64
        v, _ = delta_bp.decode(buf, bits=bits)
        if phys in (codecs.PHYS_FLOAT, codecs.PHYS_DOUBLE):
            raise ValueError("delta_bp on float")
    elif codec == codecs.RLE:
        width = int(buf[0])
        v = rle.decode(buf, width, n_values, pos=1)[0].view(np.int64).copy()
        v = v.astype(_NUMERIC_DTYPE[phys])
    elif codec == codecs.RLES:
        v, _ = rle_soa.decode(buf, n_values, out_dtype=_NUMERIC_DTYPE[phys])
    elif codec == codecs.BSS:
        v, _ = bss.decode(buf, pname, n_values)
    elif codec == codecs.FOR:
        v, _ = for_bp.decode(buf, n_values,
                             out_dtype=_NUMERIC_DTYPE[phys])
    else:
        raise ValueError(f"codec {codec} unsupported for {pname}")
    return np.asarray(v, _NUMERIC_DTYPE[phys]), None, None


STAT_BA_CAP = 64


def _ba_lower_bound(mn: bytes, cap: int = STAT_BA_CAP) -> bytes:
    """Truncate a byte-array MIN stat to ≤cap bytes, soundly: cut on a
    UTF-8 character boundary so the stored prefix is ≤ the true min in
    the string space downstream comparisons use (_stat_json stores these
    utf-8-replace; a mid-character cut would decode to U+FFFD, which can
    compare ABOVE the true continuation)."""
    if len(mn) <= cap:
        return mn
    k = cap
    while k > 0 and (mn[k] & 0xC0) == 0x80:  # don't split a multibyte char
        k -= 1
    return mn[:k]


def _ba_upper_bound(mx: bytes, cap: int = STAT_BA_CAP) -> bytes | None:
    """Truncate a byte-array MAX stat to ≤cap bytes, soundly: a plain
    prefix UNDERSTATES the max, so widen parquet-ColumnIndex-style by
    incrementing the last ASCII byte of the all-ASCII prefix (ASCII-only
    so the bound survives the utf-8-replace storage and Spark's string
    comparison exactly). If no such byte exists, return None — the chunk
    stores no max and pruning keeps it (sound, just less prunable)."""
    if len(mx) <= cap:
        return mx
    p = mx[:cap]
    q_end = len(p)
    for i, byte in enumerate(p):
        if byte >= 0x80:
            q_end = i
            break
    for k in range(q_end - 1, -1, -1):
        if p[k] < 0x7F:
            return p[:k] + bytes([p[k] + 1])
    return None


def _minmax(phys: int, values, ba_data, ba_offsets, n_values: int):
    if n_values == 0:
        return None, None
    if phys == codecs.PHYS_BYTE_ARRAY:
        # exact full-value byte comparison via Arrow (the old 64-byte
        # zero-padded lexsort conflated a value with an equal-prefix
        # longer value containing NULs — an exact-looking wrong bound)
        import pyarrow as _pa
        import pyarrow.compute as _pc

        off = np.ascontiguousarray(np.asarray(ba_offsets), np.int64)
        base = int(off[0])
        data = np.asarray(ba_data)[base:int(off[-1])]
        arr = _pa.Array.from_buffers(
            _pa.large_binary(), n_values,
            [None, _pa.py_buffer(off - base if base else off),
             _pa.py_buffer(np.ascontiguousarray(data, np.uint8))])
        # stats travel as utf-8 JSON (_stat_json) and are compared in
        # STRING space downstream (min/max prune, sorted index).
        # For valid UTF-8, byte order == code-point order, so byte
        # min/max are exact there too. For anything else (raw binary,
        # big-decimal FLBA, corrupt text) the utf-8-replace decode can
        # REORDER values — no sound string bound exists, so store none:
        # such chunks are always kept (blooms/distinct still prune
        # binary point lookups).
        try:
            arr.cast(_pa.large_string())  # validates UTF-8, C++ pass
        except _pa.ArrowInvalid:
            return None, None
        mm = _pc.min_max(arr)
        mn = mm["min"].as_py() or b""
        mx = mm["max"].as_py() or b""
        return _ba_lower_bound(mn), _ba_upper_bound(mx)
    if phys in (codecs.PHYS_FLOAT, codecs.PHYS_DOUBLE):
        # Spark/DuckDB total order puts NaN ABOVE every value (and
        # NaN = NaN): max must PROPAGATE NaN (values.max() does), but a
        # NaN min would falsely prune upper-bound predicates — the true
        # order-min is the smallest non-NaN value (NaN only if all-NaN)
        with np.errstate(invalid="ignore"):
            vmin = np.fmin.reduce(values)
        return (vmin.item(), values.max().item())
    vmin = values.min()
    vmax = values.max()
    return (vmin.item(), vmax.item())


def _per_row_value_counts(n_rows: int, validity, list_lengths) -> np.ndarray:
    """values contributed by each ROW (0 for null rows; list length for
    list rows; else 1) — the row↔value alignment map for page splitting."""
    if list_lengths is not None:
        per_row = np.zeros(n_rows, dtype=np.int64)
        if validity is not None:
            per_row[validity] = np.asarray(list_lengths, np.int64)
        else:
            per_row[:] = np.asarray(list_lengths, np.int64)
        return per_row
    if validity is not None:
        return validity.astype(np.int64)
    return np.ones(n_rows, dtype=np.int64)


def _page_minmax_bytes(phys: int, pv: np.ndarray) -> tuple[bytes, bytes]:
    if phys in (codecs.PHYS_BOOL,) or pv is None or pv.size == 0:
        return b"\0" * 8, b"\0" * 8
    dt = _NUMERIC_DTYPE[phys]
    if phys in (codecs.PHYS_FLOAT, codecs.PHYS_DOUBLE):
        # order-min skips NaN (Spark total order: NaN is the LARGEST
        # value); max propagates NaN so lo-bound probes keep the page
        with np.errstate(invalid="ignore"):
            mn = np.fmin.reduce(pv)
        return (np.asarray([mn], dt).tobytes().ljust(8, b"\0"),
                np.asarray([pv.max()], dt).tobytes().ljust(8, b"\0"))
    return (np.asarray([pv.min()], dt).tobytes().ljust(8, b"\0"),
            np.asarray([pv.max()], dt).tobytes().ljust(8, b"\0"))


def _page_minmax_ba(data: np.ndarray, off: np.ndarray) -> tuple[bytes, bytes]:
    """Covering 8-byte prefix bounds for a byte-array page (the reference
    ColumnIndex stores byte-array min/max too, writer/writer.go:418-481;
    Iceberg's truncate(L) bounds are the same idea). Lower bound =
    min[:8] padded 0x00 (≤ every value), upper bound = max[:8] padded
    0xFF (≥ every value under the read-side prefix-compare convention in
    _page_keep) — truncation can only WIDEN the range, so
    pruning stays sound."""
    import pyarrow as _pa
    import pyarrow.compute as _pc

    n = off.size - 1
    if n <= 0:
        return b"\0" * 8, b"\xff" * 8
    arr = _pa.Array.from_buffers(
        _pa.binary(), n,
        [None, _pa.py_buffer(np.ascontiguousarray(off, dtype=np.int32)),
         _pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))])
    mm = _pc.min_max(arr)
    mn = mm["min"].as_py() or b""
    mx = mm["max"].as_py() or b""
    return mn[:8].ljust(8, b"\x00"), mx[:8].ljust(8, b"\xff")


def _build_paged_payload(codec: int, phys: int, n_rows: int, values, ba_data,
                         ba_offsets, validity, list_lengths,
                         page_bytes: int, raw_bytes: int):
    """→ (payload_bytes, paged: bool). Pages are ROW-aligned: fixed
    page_rows rows per page (last partial), each page's values encoded
    independently with the chunk's codec."""
    if raw_bytes <= 2 * page_bytes or n_rows <= 1:
        return _encode_payload(codec, phys, values, ba_data, ba_offsets), False
    page_rows = max(1, int(n_rows * page_bytes / raw_bytes))
    if page_rows >= n_rows:
        return _encode_payload(codec, phys, values, ba_data, ba_offsets), False
    # DICT chunks factorize ONCE; each page derives its local dict by
    # re-factorizing its CODE slice (dense O(page+card) int path) instead
    # of re-hashing raw values per page — the per-page np.unique argsorts
    # (float dicts) and arrow dictionary_encode passes (binary dicts) were
    # the top cost of paged dict encode
    c_codes = c_uniq = cu_data = cu_off = None
    c_card = 0
    if codec == codecs.DICT:
        if phys == codecs.PHYS_BYTE_ARRAY:
            c_codes, cu_data, cu_off = dict_codec.factorize_binary(
                ba_data, ba_offsets)
            c_card = cu_off.size - 1
        else:
            c_codes, c_uniq = dict_codec.factorize_numeric(
                np.asarray(values, _NUMERIC_DTYPE[phys]))
            c_card = c_uniq.size

    def _page_remap(pc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """page chunk-codes → (page-local codes, chunk-code ids of the
        page's dict, ascending = chunk-dict order). Three O(page+card)
        passes — no per-page re-hash of raw values."""
        flags = np.zeros(c_card, dtype=bool)
        flags[pc] = True
        rank = np.cumsum(flags) - 1
        return rank[pc], np.flatnonzero(flags)
    per_row = _per_row_value_counts(n_rows, validity, list_lengths)
    cum = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(per_row, out=cum[1:])
    bounds = list(range(0, n_rows, page_rows)) + [n_rows]
    # numeric page min/max batched: ONE reduceat pair over the whole chunk
    # instead of two tiny numpy reduces per page (same values, same bytes;
    # empty pages keep the zero sentinel _page_minmax_bytes emits)
    page_mm: list[tuple[bytes, bytes]] | None = None
    if phys not in (codecs.PHYS_BOOL, codecs.PHYS_BYTE_ARRAY) \
            and values is not None:
        pv_all = np.asarray(values)
        if pv_all.size:
            starts = cum[np.asarray(bounds[:-1], dtype=np.int64)]
            ends = cum[np.asarray(bounds[1:], dtype=np.int64)]
            # pages partition the value array contiguously (ends[i] ==
            # starts[i+1]), so reduceat over the NON-EMPTY pages' starts
            # yields each one's exact segment — empty pages (all-null /
            # empty-list spans) contribute no index, which also keeps a
            # trailing empty page from truncating the previous segment
            # (the old size-1 clamp dropped the final value's stats)
            nonempty = ends > starts
            dt = _NUMERIC_DTYPE[phys]
            w = np.dtype(dt).itemsize
            mm8 = np.zeros((starts.size, 2, 8), dtype=np.uint8)
            if nonempty.any():
                idx = starts[nonempty]
                if phys in (codecs.PHYS_FLOAT, codecs.PHYS_DOUBLE):
                    # Spark total order: min skips NaN, max propagates it
                    with np.errstate(invalid="ignore"):
                        mins = np.fmin.reduceat(pv_all, idx)
                else:
                    mins = np.minimum.reduceat(pv_all, idx)
                maxs = np.maximum.reduceat(pv_all, idx)
                mm8[nonempty, 0, :w] = mins.astype(dt).view(np.uint8) \
                    .reshape(-1, w)
                mm8[nonempty, 1, :w] = maxs.astype(dt).view(np.uint8) \
                    .reshape(-1, w)
            page_mm = [(row[0].tobytes(), row[1].tobytes()) for row in mm8]
    entries: list[bytes] = []
    parts: list[bytes] = []
    for pi in range(len(bounds) - 1):
        v0, v1 = int(cum[bounds[pi]]), int(cum[bounds[pi + 1]])
        if phys == codecs.PHYS_BYTE_ARRAY:
            if c_codes is not None:
                pcodes, uc = _page_remap(c_codes[v0:v1])
                lens = np.diff(cu_off)[uc]
                p_off = np.zeros(uc.size + 1, dtype=np.int64)
                np.cumsum(lens, out=p_off[1:])
                idx = plain._ranges_to_indices(cu_off[:-1][uc], lens)
                p_data = (cu_data[idx] if idx.size
                          else np.empty(0, dtype=np.uint8))
                pay = dict_codec.assemble_binary(pcodes, p_data, p_off)
                # min/max over the page DICT equals min/max over the page
                # values (same distinct set) — card-sized, not page-sized
                mn, mx = _page_minmax_ba(p_data, p_off)
            else:
                off = np.asarray(ba_offsets[v0:v1 + 1], dtype=np.int64)
                base = int(off[0]) if off.size else 0
                data = np.asarray(ba_data)[base:int(off[-1]) if off.size else 0]
                pay = _encode_payload(codec, phys, None, data, off - base)
                mn, mx = _page_minmax_ba(data, off - base)
        else:
            if c_codes is not None:
                pcodes, uc = _page_remap(c_codes[v0:v1])
                pay = dict_codec.assemble_numeric(
                    pcodes, c_uniq[uc], _NUMERIC_PHYS[phys])
            else:
                pv = np.asarray(values[v0:v1])
                pay = _encode_payload(codec, phys, pv, None, None)
            mn, mx = (page_mm[pi] if page_mm is not None
                      else _page_minmax_bytes(phys, np.asarray(values[v0:v1])))
        entries.append((v1 - v0).to_bytes(4, "little")
                       + len(pay).to_bytes(4, "little") + mn + mx)
        parts.append(pay)
    head = (len(parts).to_bytes(4, "little")
            + page_rows.to_bytes(4, "little"))
    return head + b"".join(entries) + b"".join(parts), True


def encode_chunk(*, phys: int, codec: int, n_rows: int,
                 values: np.ndarray | None = None,
                 ba_data: np.ndarray | None = None,
                 ba_offsets: np.ndarray | None = None,
                 validity: np.ndarray | None = None,
                 list_lengths: np.ndarray | None = None,
                 elem_validity: np.ndarray | None = None,
                 omit_stats: bool = False,
                 compression: str | None = None,
                 page_bytes: int | None = None) -> tuple[bytes, ChunkStats]:
    """Encode one column chunk. `values`/`ba_*` cover only VALID rows
    (null-stripped, like the reference's DL==MaxDL rule); for lists with
    `elem_validity` they cover only NON-NULL elements, while
    `list_lengths` count all element slots. `page_bytes` splits the
    payload into row-aligned sub-pages with a per-page (n_values,
    byte_len, min, max) directory so ranged reads decode only the pages
    they touch (paging is skipped when elem_validity is present)."""
    if codec == codecs.RLE and phys != codecs.PHYS_BOOL \
            and values is not None and values.size \
            and int(np.asarray(values).min()) < 0:
        # RLE's unsigned bit-pack derives its width from max() — a negative
        # value viewed as uint64 would silently truncate to garbage. The
        # selector's negativity guard only sees a sample, so the encoder
        # itself is the soundness backstop: reroute to PLAIN (always valid;
        # the container's block codec still compresses it).
        codec = codecs.PLAIN
    flags = 0
    null_count = 0
    sections: list[bytes] = []
    if validity is not None and not validity.all():
        flags |= F_HAS_NULLS
        null_count = int((~validity).sum())
        sections.append(np.packbits(validity.astype(np.uint8), bitorder="little").tobytes())
    if list_lengths is not None:
        flags |= F_IS_LIST
        sections.append(delta_bp.encode(np.asarray(list_lengths, np.int64), bits=64))
    if elem_validity is not None and not elem_validity.all():
        flags |= F_ELEM_NULLS
        sections.append(np.packbits(elem_validity.astype(np.uint8),
                                    bitorder="little").tobytes())
    else:
        elem_validity = None
    if phys == codecs.PHYS_BYTE_ARRAY:
        n_values = ba_offsets.size - 1
        raw_bytes = int(ba_offsets[-1] - ba_offsets[0]) + 4 * n_values
    else:
        n_values = values.size
        raw_bytes = n_values * _ITEMSIZE[phys]
    if page_bytes and elem_validity is None:
        payload, paged = _build_paged_payload(
            codec, phys, n_rows, values, ba_data, ba_offsets, validity,
            list_lengths, page_bytes, raw_bytes)
        if paged:
            flags |= F_PAGED
    else:
        payload = _encode_payload(codec, phys, values, ba_data, ba_offsets)
    if compression and compression != "uncompressed":
        # final optional stage after lightweight encoding, like the
        # reference's per-page Compress (layout/page.go:240); kept only when
        # it actually shrinks the payload
        framed = compress_mod.compress(payload, compress_mod.COMP_IDS[compression])
        if len(framed) < len(payload):
            payload = framed
            flags |= F_COMPRESSED
    sections.append(payload)
    head = (
        MAGIC + bytes([VERSION, codec, phys, flags])
        + n_rows.to_bytes(4, "little") + n_values.to_bytes(4, "little")
        + null_count.to_bytes(4, "little")
    )
    body = b"".join(len(s).to_bytes(4, "little") + s for s in sections)
    blob = head + body
    if omit_stats:
        mn = mx = None
    else:
        mn, mx = _minmax(phys, values, ba_data, ba_offsets, n_values)
    stats = ChunkStats(codec=codec, phys=phys, n_rows=n_rows, n_values=n_values,
                       null_count=null_count, raw_bytes=raw_bytes,
                       enc_bytes=len(blob), min_val=mn, max_val=mx)
    return blob, stats


def _parse_blob(blob: bytes | np.ndarray):
    """→ (codec, phys, flags, n_rows, n_values, validity, list_lengths,
    elem_validity, payload) with the payload section decompressed if
    needed."""
    raw = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    if raw.size < 20:
        raise ValueError(f"truncated chunk: {raw.size} bytes < 20-byte header")
    if raw[:4].tobytes() != MAGIC:
        raise ValueError("bad chunk magic")
    version, codec, phys, flags = (int(raw[4]), int(raw[5]), int(raw[6]), int(raw[7]))
    if version != VERSION:
        raise ValueError(f"unsupported chunk version {version}")
    n_rows = int.from_bytes(raw[8:12].tobytes(), "little")
    n_values = int.from_bytes(raw[12:16].tobytes(), "little")
    pos = 20  # 16:20 is null_count (implied by validity)
    validity = None
    list_lengths = None

    def _take(pos):
        ln = int.from_bytes(raw[pos:pos + 4].tobytes(), "little")
        if pos + 4 + ln > raw.size:
            raise ValueError(
                f"truncated chunk: section of {ln} bytes at {pos} exceeds blob size {raw.size}")
        return ln, pos + 4

    if flags & F_HAS_NULLS:
        ln, pos = _take(pos)
        bits = np.unpackbits(raw[pos:pos + ln], bitorder="little")[:n_rows]
        validity = bits.astype(bool)
        pos += ln
    if flags & F_IS_LIST:
        ln, pos = _take(pos)
        list_lengths, _ = delta_bp.decode(raw[pos:pos + ln], bits=64)
        pos += ln
    elem_validity = None
    if flags & F_ELEM_NULLS:
        ln, pos = _take(pos)
        total_elems = int(list_lengths.sum()) if list_lengths is not None else 0
        bits = np.unpackbits(raw[pos:pos + ln], bitorder="little")[:total_elems]
        elem_validity = bits.astype(bool)
        pos += ln
    ln, pos = _take(pos)
    payload = raw[pos:pos + ln]
    if flags & F_COMPRESSED:
        payload = np.frombuffer(compress_mod.decompress(payload), dtype=np.uint8)
    return (codec, phys, flags, n_rows, n_values, validity, list_lengths,
            elem_validity, payload)


def _parse_page_index(payload: np.ndarray):
    """→ (page_rows, entries [(n_values, byte_len, byte_off)], index_end)."""
    n_pages = int.from_bytes(payload[0:4].tobytes(), "little")
    page_rows = int.from_bytes(payload[4:8].tobytes(), "little")
    base = 8 + n_pages * PAGE_ENTRY
    entries = []
    off = base
    for p in range(n_pages):
        e = 8 + p * PAGE_ENTRY
        nv = int.from_bytes(payload[e:e + 4].tobytes(), "little")
        bl = int.from_bytes(payload[e + 4:e + 8].tobytes(), "little")
        entries.append((nv, bl, off))
        off += bl
    return page_rows, entries, base


def chunk_page_stats(blob: bytes | np.ndarray) -> dict | None:
    """Page directory of a paged chunk (None for unpaged): page_rows,
    per-page value counts / byte lengths, and exact min/max decoded in the
    column's dtype for numeric physes — the sub-chunk ColumnIndex."""
    codec, phys, flags, n_rows, _nv, _va, _ll, _ev, payload = _parse_blob(blob)
    if not flags & F_PAGED:
        return None
    page_rows, entries, _ = _parse_page_index(payload)
    out = {"page_rows": page_rows, "n_pages": len(entries),
           "n_values": [e[0] for e in entries],
           "byte_len": [e[1] for e in entries]}
    if phys in _NUMERIC_DTYPE:
        dt = _NUMERIC_DTYPE[phys]
        mins, maxs = [], []
        for p in range(len(entries)):
            e = 8 + p * PAGE_ENTRY
            mins.append(np.frombuffer(payload[e + 8:e + 16].tobytes(), dt, 1)[0].item())
            maxs.append(np.frombuffer(payload[e + 16:e + 24].tobytes(), dt, 1)[0].item())
        out["min"], out["max"] = mins, maxs
    elif phys == codecs.PHYS_BYTE_ARRAY:
        # covering 8-byte prefix bounds (min padded 0x00, max padded 0xFF)
        out["min_prefix"] = [payload[8 + p * PAGE_ENTRY + 8:
                                     8 + p * PAGE_ENTRY + 16].tobytes()
                             for p in range(len(entries))]
        out["max_prefix"] = [payload[8 + p * PAGE_ENTRY + 16:
                                     8 + p * PAGE_ENTRY + 24].tobytes()
                             for p in range(len(entries))]
    return out


def chunk_dict_values(blob: bytes | np.ndarray):
    """Dictionary-page read: the distinct values of a DICT-encoded chunk
    WITHOUT decoding any codes — the reference's dict-page access
    (layout/dictpage.go:74-152: the dictionary rides ahead of the
    RLE/bit-packed index stream and is readable on its own). Paged chunks
    carry one dictionary per page; values are merged and deduplicated.
    Returns a sorted numpy array (numeric phys) or a sorted list[bytes]
    (byte_array); None when the chunk isn't dictionary-encoded."""
    codec, phys, flags, _nr, _nv, _va, _ll, _ev, payload = _parse_blob(blob)
    if codec != codecs.DICT:
        return None

    def one(buf: np.ndarray):
        dlen = int.from_bytes(buf[0:4].tobytes(), "little")
        card = int.from_bytes(buf[4 + dlen:8 + dlen].tobytes(), "little")
        if phys == codecs.PHYS_BYTE_ARRAY:
            d, o, _ = plain.decode_byte_array(buf[4:4 + dlen], card)
            return [d[o[i]:o[i + 1]].tobytes() for i in range(card)]
        u, _ = plain.decode_numeric(buf[4:4 + dlen].tobytes(),
                                    _NUMERIC_PHYS[phys], card)
        return u

    if flags & F_PAGED:
        _pr, entries, _ = _parse_page_index(payload)
        parts = [one(payload[boff:boff + bl])
                 for _nv2, bl, boff in entries if bl]
        if phys == codecs.PHYS_BYTE_ARRAY:
            return sorted({b for p in parts for b in p})
        return (np.unique(np.concatenate(parts)) if parts
                else np.empty(0, _NUMERIC_DTYPE[phys]))
    vals = one(payload)
    if phys == codecs.PHYS_BYTE_ARRAY:
        return sorted(set(vals))
    return np.unique(vals)


def _decode_pages(codec: int, phys: int, payload: np.ndarray,
                  page_span: tuple[int, int] | None = None):
    """Decode a paged payload (all pages, or only [p0, p1)) →
    (values, ba_data, ba_offsets, bytes_decoded)."""
    page_rows, entries, _ = _parse_page_index(payload)
    p0, p1 = (0, len(entries)) if page_span is None else page_span
    vs, datas, offs = [], [], []
    decoded = 0
    elem_base = 0
    for nv, bl, boff in entries[p0:p1]:
        v, d, o = _decode_payload(codec, phys, payload[boff:boff + bl], nv)
        decoded += bl
        if phys == codecs.PHYS_BYTE_ARRAY:
            base = int(o[0])
            datas.append(np.asarray(d)[base:int(o[-1])])
            offs.append(np.asarray(o[:-1], np.int64) - base + elem_base)
            elem_base += int(o[-1]) - base
        else:
            vs.append(v)
    if phys == codecs.PHYS_BYTE_ARRAY:
        data = (np.concatenate(datas) if len(datas) != 1 else datas[0]) \
            if datas else np.empty(0, np.uint8)
        offsets = np.concatenate(offs + [np.asarray([elem_base], np.int64)]) \
            if offs else np.zeros(1, np.int64)
        return None, data, offsets, decoded
    empty_dt = _NUMERIC_DTYPE.get(phys, np.bool_)  # keep dtype on 0-page spans
    values = (np.concatenate(vs) if len(vs) != 1 else vs[0]) \
        if vs else np.empty(0, empty_dt)
    return values, None, None, decoded


def decode_chunk(blob: bytes | np.ndarray) -> ChunkData:
    (codec, phys, flags, n_rows, n_values, validity, list_lengths,
     elem_validity, payload) = _parse_blob(blob)
    if flags & F_PAGED:
        values, ba_data, ba_offsets, _ = _decode_pages(codec, phys, payload)
        if values is not None:
            values = np.asarray(values, _NUMERIC_DTYPE.get(phys, None)) \
                if phys in _NUMERIC_DTYPE else values
    else:
        values, ba_data, ba_offsets = _decode_payload(codec, phys, payload, n_values)
    return ChunkData(phys=phys, n_rows=n_rows, validity=validity,
                     list_lengths=list_lengths, values=values,
                     ba_data=ba_data, ba_offsets=ba_offsets,
                     elem_validity=elem_validity)


def _page_keep(payload: np.ndarray, entries, phys: int, is_ba: bool,
               lo, hi) -> np.ndarray:
    """Per-page keep mask for a [lo, hi] predicate against the page
    directory's min/max entries. Byte-array bounds compare on the stored
    8-byte padded prefixes — query bounds are padded to the same
    convention (min ljust-00, max ljust-FF): an unpadded hi like b'ab'
    compares BELOW a stored zero-padded page min b'ab\\x00...' and would
    falsely prune a page whose min equals a sub-8-byte hi bound."""
    keep = np.zeros(len(entries), dtype=bool)
    if is_ba:
        lo8 = (lo.encode() if isinstance(lo, str) else lo)[:8] \
            .ljust(8, b"\x00") if lo is not None else None
        hi8 = (hi.encode() if isinstance(hi, str) else hi)[:8] \
            .ljust(8, b"\xff") if hi is not None else None
        for p in range(len(entries)):
            e = 8 + p * PAGE_ENTRY
            mn = payload[e + 8:e + 16].tobytes()
            mx = payload[e + 16:e + 24].tobytes()
            if mx == b"\0" * 8:  # legacy page without byte-array bounds
                keep[p] = True
                continue
            # prefix-compare convention: stored mn ≙ mn+00…, mx ≙ mx+FF…
            keep[p] = ((lo8 is None or mx >= lo8)
                       and (hi8 is None or mn <= hi8))
    else:
        dt = _NUMERIC_DTYPE[phys]
        for p in range(len(entries)):
            e = 8 + p * PAGE_ENTRY
            mn = np.frombuffer(payload[e + 8:e + 16].tobytes(), dt, 1)[0]
            mx = np.frombuffer(payload[e + 16:e + 24].tobytes(), dt, 1)[0]
            # Spark's total order puts NaN above every value, but numpy's
            # NaN comparisons are all False — a NaN bound must KEEP the
            # page (a NaN max means the page holds NaNs, which DO match
            # x >= lo in Spark; a NaN min only appears in legacy blobs)
            keep[p] = ((lo is None or mx >= lo or np.isnan(mx))
                       and (hi is None or mn <= hi or np.isnan(mn)))
    return keep


def _keep_runs(keep: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous [start, end) index runs of True entries in a keep mask."""
    runs, p = [], 0
    n = len(keep)
    while p < n:
        if keep[p]:
            q = p
            while q < n and keep[q]:
                q += 1
            runs.append((p, q))
            p = q
        else:
            p += 1
    return runs


def _page_row_runs(blob: bytes | np.ndarray, bounds):
    """ROW ranges [(row_lo, row_hi), ...] of the pages whose min/max
    overlap ANY [lo, hi] in `bounds`, with ONE blob parse: the header walk
    + page-index parse (and payload decompression, the expensive part of
    a compressed chunk) amortize over every bound. Per-bound keep masks
    OR together, so the runs come back merged and sorted. None when the
    chunk has no usable page directory (unpaged, nulls, lists,
    non-scalar) — the caller decodes fully; [] when no page can match."""
    (codec, phys, flags, n_rows, n_values, validity, list_lengths,
     elem_validity, payload) = _parse_blob(blob)
    is_ba = phys == codecs.PHYS_BYTE_ARRAY
    if (not flags & F_PAGED or (phys not in _NUMERIC_DTYPE and not is_ba)
            or validity is not None or list_lengths is not None):
        return None
    page_rows, entries, _ = _parse_page_index(payload)
    keep = np.zeros(len(entries), dtype=bool)
    for lo, hi in bounds:
        keep |= _page_keep(payload, entries, phys, is_ba, lo, hi)
        if keep.all():
            break
    return [(p * page_rows, min(q * page_rows, n_rows))
            for p, q in _keep_runs(keep)]


def page_filter_row_runs(blob: bytes | np.ndarray, lo, hi):
    """Row runs of the pages whose min/max overlap the range [lo, hi] —
    the reference's ColumnIndex-driven page skip
    (reader/columnbuffer.go:158-230): the caller decodes these same row
    spans from EVERY projected column (decode_chunk_rows_multi keeps row
    alignment across columns). Same None/[] contract as _page_row_runs."""
    return _page_row_runs(blob, [(lo, hi)])


def page_filter_row_runs_multi(blob: bytes | np.ndarray, values):
    """page_filter_row_runs for k POINT probes with one blob parse."""
    return _page_row_runs(blob, [(v, v) for v in values])


def decode_chunk_rows_multi(blob: bytes | np.ndarray,
                            ranges) -> tuple[list[ChunkData], int]:
    """Decode several row ranges [(row_lo, row_hi), ...] of ONE chunk —
    the blob is parsed and the per-row cumulative-count arrays built
    exactly once, then each range decodes only the pages it touches (the
    reference's skip-without-decode, reader/columnbuffer.go:158-230);
    unpaged chunks decode the payload once and every range slices it.
    This is the multi-run shape engine.scan needs: R runs × C columns
    would otherwise re-parse and re-cumsum the same chunks R×C times."""
    (codec, phys, flags, n_rows, n_values, validity, list_lengths,
     elem_validity, payload) = _parse_blob(blob)
    per_row = _per_row_value_counts(n_rows, validity, list_lengths)
    cum = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(per_row, out=cum[1:])  # ELEMENT-SLOT cumulative per row
    if elem_validity is not None:
        # stored (non-null) values per row: prefix-sum of the element
        # bitmap sampled at each row's slot boundary
        ecs = np.zeros(elem_validity.size + 1, dtype=np.int64)
        np.cumsum(elem_validity, out=ecs[1:])
        cum_stored = ecs[cum]
    else:
        cum_stored = cum
    paged = bool(flags & F_PAGED)  # never with elem_validity (encode skips)
    if paged:
        page_rows, entries, _ = _parse_page_index(payload)
    else:
        full = _decode_payload(codec, phys, payload, n_values)

    out, total_decoded, spans = [], 0, {}
    for row_lo, row_hi in ranges:
        row_lo = max(0, int(row_lo))
        row_hi = min(n_rows, int(row_hi))
        if paged:
            p0 = row_lo // page_rows
            p1 = min((row_hi + page_rows - 1) // page_rows, len(entries))
            # runs inside the same pages (point hits) decode them once
            if (p0, p1) in spans:
                values, ba_data, ba_offsets, _ = spans[p0, p1]
                decoded = 0
            else:
                values, ba_data, ba_offsets, decoded = spans[p0, p1] = \
                    _decode_pages(codec, phys, payload, (p0, p1))
            span_r0 = p0 * page_rows
        else:
            values, ba_data, ba_offsets = full
            decoded = int(payload.size) if not out else 0  # paid once
            span_r0 = 0
        total_decoded += decoded
        skip = int(cum_stored[row_lo] - cum_stored[span_r0])
        take = int(cum_stored[row_hi] - cum_stored[row_lo])
        if phys == codecs.PHYS_BYTE_ARRAY:
            off = np.asarray(ba_offsets[skip:skip + take + 1], np.int64)
            base = int(off[0]) if off.size else 0
            ba_data2 = np.asarray(ba_data)[base:int(off[-1]) if off.size else base]
            ba_offsets2 = off - base
            values2 = None
        else:
            values2 = np.asarray(values)[skip:skip + take]
            ba_data2, ba_offsets2 = ba_data, ba_offsets
        sub_validity = None if validity is None else validity[row_lo:row_hi]
        sub_lengths = None
        if list_lengths is not None:
            lens = per_row[row_lo:row_hi]
            sub_lengths = lens[sub_validity] if sub_validity is not None else lens
        sub_ev = (None if elem_validity is None
                  else elem_validity[cum[row_lo]:cum[row_hi]])
        if sub_validity is not None and sub_validity.all():
            sub_validity = None  # canonical: all-valid → no bitmap
        if sub_ev is not None and sub_ev.all():
            sub_ev = None
        out.append(ChunkData(phys=phys, n_rows=row_hi - row_lo,
                             validity=sub_validity,
                             list_lengths=sub_lengths, values=values2,
                             ba_data=ba_data2, ba_offsets=ba_offsets2,
                             elem_validity=sub_ev))
    return out, total_decoded
