"""Spark-native encode/decode over Arrow batches.

The distributed analog of the reference's writer/reader lifecycle
(writer/writer.go:228-500, reader/reader.go:225-379), Spark-first:

  * a Spark partition plays the reference's NP-goroutine role — encode is a
    single `mapInArrow` pass, shuffle-free, embarrassingly parallel;
  * a "row group" is a horizontal slice of one partition sized by raw bytes
    (reference RowGroupSize, writer/writer.go:64), emitted as ONE output row
    carrying every column's chunk blob side by side — so decode of full rows
    is also shuffle-free, and single-column reads still prune via the
    Parquet container holding the blob columns (projection pushdown ≙
    reader/reader.go:256-263);
  * per-chunk stats ride along as typed struct columns — the
    ColumnIndex/OffsetIndex analog (writer/writer.go:418-481) — and get
    written as the manifest.

No per-row Python anywhere: blobs are built by the vectorized kernels on
zero-copy numpy views of the Arrow buffers.
"""

from __future__ import annotations

import hashlib
import json
import operator
import threading
import weakref
import zlib
from collections import OrderedDict
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import arrow_util, codecs, selector
from ._mem import worker_batches
from .chunk import (ChunkStats, decode_chunk, decode_chunk_rows_multi,
                    encode_chunk, page_filter_row_runs,
                    page_filter_row_runs_multi)
from .schema import ColumnSpec

DEFAULT_TARGET_RAW_BYTES = 32 << 20  # row-group sizing, reference default 128MiB scaled
DEFAULT_PAGE_BYTES = 1 << 20  # sub-chunk page sizing (reference PageSize analog)


# --------------------------------------------------------------------------
# Arrow column <-> numpy (values, validity, lengths)
# --------------------------------------------------------------------------

# physical type → the Arrow type its leaf decodes to when the spec carries
# no logical `arrow_type`
_PHYS_PA = {codecs.PHYS_INT32: pa.int32(), codecs.PHYS_INT64: pa.int64(),
            codecs.PHYS_FLOAT: pa.float32(), codecs.PHYS_DOUBLE: pa.float64(),
            codecs.PHYS_BOOL: pa.bool_(), codecs.PHYS_BYTE_ARRAY: pa.string()}


def _pa_of_spec(spec: ColumnSpec) -> pa.DataType:
    """Arrow type `_rebuild` gives `spec`'s column (on a LIST spec
    `arrow_type` is the element type)."""
    leaf = spec.arrow_type or _PHYS_PA[spec.phys]
    return pa.list_(leaf) if spec.is_list else leaf


def _decimal_unscaled(arr: pa.Array) -> np.ndarray:
    """Decimal128Array (p ≤ 18) → int64 unscaled values. The 128-bit
    little-endian pairs reduce to their low word when the value fits int64
    (high word is pure sign extension)."""
    u = np.frombuffer(arr.buffers()[1], dtype=np.uint64)
    lo = u[2 * arr.offset: 2 * (arr.offset + len(arr))][0::2]
    return np.ascontiguousarray(lo).view(np.int64)


def _is_decimal_spec(spec: ColumnSpec) -> bool:
    """Scalar decimal spec (on LIST specs arrow_type is the element type)."""
    return (not spec.is_list and spec.arrow_type is not None
            and pa.types.is_decimal(spec.arrow_type))


def _fixed_width(spec: ColumnSpec) -> int:
    """Bytes per value of a fixed-width byte-array leaf, else 0: FLBA
    (UUID/INTERVAL storage, reference PLAIN FLBA encodingwrite.go:123-130)
    and decimal p > 18 as 16-byte big-endian two's complement (the
    reference's DECIMAL-over-FLBA layout, types/types.go:268-330)."""
    at = spec.arrow_type
    if spec.phys != codecs.PHYS_BYTE_ARRAY or at is None:
        return 0
    if pa.types.is_fixed_size_binary(at):
        return at.byte_width
    return 16 if pa.types.is_decimal(at) else 0


def _leaf(arr: pa.Array, spec: ColumnSpec) -> dict:
    """Null-free leaf array (a scalar column's valid rows, or a list
    column's non-null elements) → codec input: dict(values=…) or
    dict(ba_data=…, ba_offsets=…). Each leaf type converts here once."""
    at = spec.arrow_type
    if w := _fixed_width(spec):
        if pa.types.is_fixed_size_binary(at) and arr.type != at:
            # Spark hands a Parquet FLBA column over as plain binary, whose
            # buffers()[1] holds offsets, not the values
            try:
                arr = arr.cast(at)
            except pa.ArrowInvalid as e:
                raise ValueError(f"column {spec.name!r}: {e}") from None
        raw = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
        raw = raw[w * arr.offset: w * (arr.offset + len(arr))]
        if pa.types.is_decimal(at):  # little-endian → big-endian
            raw = raw.reshape(-1, 16)[:, ::-1]
        return dict(ba_data=np.ascontiguousarray(raw).reshape(-1),
                    ba_offsets=np.arange(len(arr) + 1, dtype=np.int64) * w)
    if spec.phys == codecs.PHYS_BYTE_ARRAY:
        # byte-array specs carry arrow_type only to mark opaque binary for
        # the rebuild side (BSON-style bytes) — no storage view involved
        b = arr.cast(pa.large_binary())
        bufs = b.buffers()
        off = np.frombuffer(bufs[1], np.int64)[b.offset:b.offset + len(b) + 1]
        data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
                else np.empty(0, np.uint8))
        return dict(ba_data=data, ba_offsets=off.astype(np.int64))
    if at is not None and pa.types.is_decimal(at):
        return dict(values=_decimal_unscaled(arr))
    if at is not None:
        # logical date/time/timestamp → zero-copy view of the storage int
        arr = arr.view(_PHYS_PA[spec.phys])
    return dict(values=np.asarray(arr))


def _extract(arr: pa.Array, spec: ColumnSpec) -> dict:
    """Arrow column → encode_chunk input: the `_leaf` conversion of its
    valid rows plus `validity` (None = all valid). A list column's leaf is
    its non-null elements: `list_lengths` per valid row count every element
    slot, `elem_validity` marks the non-null ones (Dremel DL between empty
    list and value — null list elements / null map values)."""
    if isinstance(arr, pa.DictionaryArray):
        # dict-encoded input (Arrow dictionary / reference ENUM): densify to
        # the value type; the engine's own selector re-dictionary-encodes
        arr = arr.dictionary_decode()
    validity = np.asarray(arr.is_valid()) if arr.null_count else None
    if not spec.is_list:
        dense = arr.drop_null() if validity is not None else arr
        return dict(_leaf(dense, spec), validity=validity)
    lens = pc.list_value_length(arr)
    if validity is not None:
        lens = lens.drop_null()
    # flatten() skips null rows (whatever their offsets span) and honours
    # the slice offset; zero-copy for a null-free list
    elems = arr.flatten()
    ev = np.asarray(elems.is_valid()) if elems.null_count else None
    dense = elems.drop_null() if ev is not None else elems
    return dict(_leaf(dense, spec), validity=validity,
                list_lengths=np.asarray(lens).astype(np.int64, copy=False),
                elem_validity=ev)


def _leaf_array(cd, spec: ColumnSpec, n: int,
                valid: np.ndarray | None) -> pa.Array:
    """Mirror of `_leaf`: the chunk's stored values → an Arrow array of `n`
    slots, the values in the slots `valid` marks (all when None) and nulls
    in the rest."""
    at = spec.arrow_type
    vbuf = (None if valid is None
            else pa.py_buffer(np.packbits(valid, bitorder="little")))
    nulls = 0 if valid is None else n - int(np.count_nonzero(valid))
    if spec.phys == codecs.PHYS_BYTE_ARRAY:
        base = int(cd.ba_offsets[0])
        if w := _fixed_width(spec):
            n_vals = cd.ba_offsets.size - 1
            data = np.asarray(cd.ba_data)[base:base + w * n_vals].reshape(-1, w)
            if pa.types.is_decimal(at):  # big-endian → little-endian
                data = data[:, ::-1]
            if valid is not None:
                full = np.zeros((n, w), dtype=np.uint8)
                full[valid] = data
                data = full
            return pa.Array.from_buffers(
                at, n, [vbuf, pa.py_buffer(np.ascontiguousarray(data))],
                null_count=nulls)
        lens = np.diff(cd.ba_offsets)
        if valid is not None:  # scatter stored lengths into the slots
            full = np.zeros(n, dtype=np.int64)
            full[valid] = lens
            lens = full
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        data = np.ascontiguousarray(cd.ba_data[base:base + int(off[-1])])
        out = pa.Array.from_buffers(
            pa.large_binary(), n,
            [vbuf, pa.py_buffer(off), pa.py_buffer(data)], null_count=nulls)
        if at is None:
            return out.cast(pa.string())
        # BSON-style opaque bytes: no UTF-8 assumption
        return out if pa.types.is_large_binary(at) else out.cast(at)
    vals = cd.values
    if valid is not None:
        full = np.zeros(n, dtype=vals.dtype)
        full[valid] = vals
        vals = full
    if at is not None and pa.types.is_decimal(at):
        # unscaled int64 → 128-bit little-endian pairs, high word the sign
        pair = np.empty((n, 2), dtype=np.int64)
        pair[:, 0] = vals
        pair[:, 1] = vals >> 63
        return pa.Array.from_buffers(at, n, [vbuf, pa.py_buffer(pair)],
                                     null_count=nulls)
    out = pa.array(vals, type=_PHYS_PA[spec.phys],
                   mask=None if valid is None else ~valid)
    return out if at is None else out.view(at)


def _rebuild(cd, spec: ColumnSpec) -> pa.Array:
    """ChunkData → Arrow array of the original logical type: the
    `_leaf_array` over the rows, or for a list column over the element
    slots wrapped in the rows' list offsets."""
    n, validity = cd.n_rows, cd.validity
    if not spec.is_list:
        return _leaf_array(cd, spec, n, validity)
    lens = (cd.list_lengths if cd.list_lengths is not None
            else np.zeros(0, np.int64))
    if validity is not None:
        full = np.zeros(n, dtype=np.int64)
        full[validity] = lens
        lens = full
    offsets = np.zeros(n + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(lens)
    child = _leaf_array(cd, spec, int(offsets[-1]), cd.elem_validity)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), child,
        mask=None if validity is None else pa.array(~validity))


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------

META_FIELDS = [
    ("codec", pa.string()), ("n_values", pa.int64()), ("null_count", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("min_json", pa.string()), ("max_json", pa.string()),
    ("bloom", pa.binary()),  # split-block bloom filter (tokenc/bloom.py)
    # JSON array of the chunk's distinct values when the spec opts in and
    # cardinality <= DISTINCT_MAX (dictionary-page pruning at
    # metadata scale); null otherwise
    ("distinct_json", pa.string()),
    # CRC32 (zlib) of the raw blob bytes — bit-rot detection for archives
    # that sit for years; verified by verify_table() without any decode
    ("crc32", pa.int64()),
    # boundary-order analog (parquet-format ColumnIndex boundary_order,
    # written by the reference at writer/writer.go:418-481): True when the
    # chunk's non-null values are non-decreasing in row order. Lets
    # SortedKeyIndex binary-search row-group bounds instead of scanning
    # every manifest row on point lookups over sorted keys.
    ("sorted", pa.bool_()),
]

DISTINCT_MAX = 64


def _chunk_distinct(parts: dict, spec: ColumnSpec) -> str | None:
    """Distinct value set of the chunk as a sorted JSON array, or None when
    the spec doesn't opt in / cardinality exceeds DISTINCT_MAX. Values are
    the same storage representation min_json/max_json use (strings decoded
    utf-8, numerics as JSON numbers), so predicates written against the
    stats also work against the distinct list."""
    if not spec.distinct:
        return None
    if parts.get("values") is not None:
        vals = np.asarray(parts["values"])
        if vals.size == 0:
            return "[]"
        uniq = np.unique(vals)          # sorted
        if uniq.size > DISTINCT_MAX:
            return None
        return json.dumps([v.item() for v in uniq])
    data, offs = parts.get("ba_data"), parts.get("ba_offsets")
    n = 0 if offs is None else offs.size - 1
    if n <= 0:
        return "[]"
    arr = arrow_util.binary_array(data, offs)  # int64-offset safe >2 GiB
    uniq = arr.unique()
    if len(uniq) > DISTINCT_MAX:
        return None
    return json.dumps(
        sorted(u.as_py().decode("utf-8", "replace") for u in uniq))


def _chunk_sorted(parts: dict) -> bool:
    """True iff the chunk's stored (non-null) values are non-decreasing in
    row order — one vectorized comparison pass (numpy for numerics, Arrow
    compute for byte arrays), the price of the boundary_order flag."""
    vals = parts.get("values")
    if vals is not None:
        v = np.asarray(vals)
        if v.size < 2:
            return True
        # fast reject (keeps encode throughput): any violated adjacent
        # pair in the head, or any violated stride pair (a[i] > a[j], i<j
        # with a sorted array is impossible), proves unsorted without the
        # full pass — random data exits here; only near-sorted data pays
        head = v[:2048]
        if not (head[1:] >= head[:-1]).all():
            return False
        s = v[::max(1, v.size // 1024)]
        if not (s[1:] >= s[:-1]).all():
            return False
        return bool((v[1:] >= v[:-1]).all())
    offs, data = parts.get("ba_offsets"), parts.get("ba_data")
    n = 0 if offs is None else offs.size - 1
    if n < 2:
        return True
    arr = arrow_util.binary_array(data, offs)  # int64-offset safe >2 GiB
    if n > 1024:  # fast reject on a stride sample before the full pass
        s = arr.take(np.arange(0, n, n // 512, dtype=np.int64))
        if not bool(pc.min(pc.less_equal(s.slice(0, len(s) - 1),
                                         s.slice(1))).as_py()):
            return False
    return bool(pc.min(pc.less_equal(arr.slice(0, n - 1),
                                     arr.slice(1))).as_py())


def _chunk_bloom(parts: dict, spec: ColumnSpec):
    """Per-chunk SBBF over the column's non-null values (None if the spec
    doesn't opt in). Byte-array columns hash the flattened slices; numeric
    columns the normalized storage values."""
    if not spec.bloom:
        return None
    from . import bloom as _bloom

    if parts.get("values") is not None:
        hashes = _bloom.hash_values(parts["values"])
    else:
        hashes = _bloom.hash_bytes_concat(parts["ba_data"],
                                          parts["ba_offsets"])
    return _bloom.build_bloom(hashes)


def encoded_schema(specs: list[ColumnSpec]) -> pa.Schema:
    fields = [pa.field("rg_id", pa.string()), pa.field("n_rows", pa.int32()),
              pa.field("rg_part", pa.int32()), pa.field("rg_idx", pa.int32())]
    for s in specs:
        fields.append(pa.field(f"{s.name}_blob", pa.binary()))
        fields.append(pa.field(f"{s.name}_meta", pa.struct(META_FIELDS)))
    return pa.schema(fields)


def _stat_json(v) -> str:
    if isinstance(v, bytes):
        return json.dumps(v.decode("utf-8", "replace"))
    if isinstance(v, float) and not np.isfinite(v):
        return json.dumps(str(v))
    return json.dumps(v)


def _encode_rowgroup(batch: pa.Table, specs: list[ColumnSpec],
                     sel_cache: dict | None = None,
                     page_bytes: int = DEFAULT_PAGE_BYTES) -> dict:
    n_rows = batch.num_rows
    row: dict = {"n_rows": n_rows}
    hasher = hashlib.sha1()
    hasher.update(str(n_rows).encode())
    for spec in specs:
        arr = batch.column(spec.name).combine_chunks()
        parts = _extract(arr, spec)
        codec = spec.codec
        if codec is None:
            codec = selector.choose(spec.phys, values=parts.get("values"),
                                    ba_data=parts.get("ba_data"),
                                    ba_offsets=parts.get("ba_offsets"),
                                    cache=sel_cache, key=spec.name,
                                    container=spec.compression or "zstd")
        blob, st = encode_chunk(phys=spec.phys, codec=codec, n_rows=n_rows,
                                omit_stats=spec.omit_stats,
                                compression=spec.compression,
                                page_bytes=page_bytes, **parts)
        crc = zlib.crc32(blob)
        row[f"{spec.name}_blob"] = blob
        row[f"{spec.name}_meta"] = {
            "codec": codecs.CODEC_NAMES[st.codec], "n_values": st.n_values,
            "null_count": st.null_count, "raw_bytes": st.raw_bytes,
            "enc_bytes": st.enc_bytes,
            "min_json": _stat_json(st.min_val), "max_json": _stat_json(st.max_val),
            "bloom": _chunk_bloom(parts, spec),
            "distinct_json": _chunk_distinct(parts, spec),
            "crc32": crc,
            # boundary order is a SCALAR-column property (a flattened list
            # element stream has no row order to speak of), so the heavy
            # token arrays never pay the comparison pass; scalar columns
            # pay one vectorized compare (stride fast-reject for unsorted
            # data), small beside their codec work
            "sorted": False if spec.is_list else _chunk_sorted(parts),
        }
        # the crc covers every blob byte, so groups that differ anywhere
        # get different rg_ids (the index fingerprint and the driver's
        # group cache key on them); the edges and length cost no pass
        hasher.update(b"%d:%d:" % (len(blob), crc))
        hasher.update(blob[:256])
        hasher.update(blob[-256:])
    row["rg_id"] = hasher.hexdigest()
    return row


def _encode_batches(batches, specs: list[ColumnSpec], target_raw_bytes: int,
                    page_bytes: int, sel_cache: dict | None):
    """The one batch → row-group accumulator behind every encode frontend
    (row-group cut analog of writer/writer.go:242-257). `batches` yields
    (batch, keep): keep is None or a boolean mask of the rows deletes
    leave. Kept rows buffer until their bytes reach the target, then
    encode as one group; a batch above the target is cut (before masking)
    into max(1, rows*target/nbytes)-row slices, each its own group.
    Yields (row, start): `start` is the group's first source row, deleted
    rows counted, so it strictly increases. All-deleted groups are
    skipped."""
    buf: list[pa.RecordBatch] = []
    buf_bytes = buf_start = src = 0

    def flush():
        nonlocal buf, buf_bytes
        tbl = pa.Table.from_batches(buf)
        buf, buf_bytes = [], 0
        if tbl.num_rows:
            yield _encode_rowgroup(tbl, specs, sel_cache, page_bytes), buf_start

    for b, keep in batches:
        n = b.num_rows
        alone = n and b.nbytes > target_raw_bytes
        step = max(1, int(n * target_raw_bytes / b.nbytes)) if alone else n
        for o in range(0, n, step) if alone else (0,):
            part = b.slice(o, step) if alone else b
            if keep is not None:
                part = part.filter(pa.array(keep[o:o + part.num_rows]))
            if alone and buf:
                yield from flush()
            if not buf:
                buf_start = src + o
            buf.append(part)
            buf_bytes += part.nbytes
            if alone or buf_bytes >= target_raw_bytes:
                yield from flush()
        src += n
    if buf:
        yield from flush()


def make_encoder(specs: list[ColumnSpec],
                 target_raw_bytes: int = DEFAULT_TARGET_RAW_BYTES,
                 page_bytes: int = DEFAULT_PAGE_BYTES):
    """mapInArrow function: input batches → encoded row-group rows."""
    out_schema = encoded_schema(specs)

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        source = ((b, None) for b in worker_batches(batches))
        groups = _encode_batches(source, specs, target_raw_bytes, page_bytes,
                                 selector.WORKER_MEMO)  # per-WORKER memo
        for rg_idx, (row, _) in enumerate(groups):
            # (rg_part, rg_idx) is a total order over row groups whenever the
            # input partitioning is ordered (e.g. repartitionByRange + sort):
            # the SkipRows/ReadByNumber cursor analog (reader/reader.go:179-253)
            row["rg_part"] = part_id
            row["rg_idx"] = rg_idx
            yield pa.RecordBatch.from_pylist([row], schema=out_schema)

    return encode_fn, out_schema


def encode_df(df, specs: list[ColumnSpec], *,
              target_raw_bytes: int = DEFAULT_TARGET_RAW_BYTES,
              partitions: int | None = None,
              page_bytes: int = DEFAULT_PAGE_BYTES):
    """DataFrame of raw rows → DataFrame of encoded row groups (shuffle only
    if `partitions` forces a repartition for parallelism/skew)."""
    if partitions:
        df = df.repartition(partitions)
    fn, out_schema = make_encoder(specs, target_raw_bytes, page_bytes)
    return df.mapInArrow(fn, from_arrow_schema(out_schema))


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------

# the most blob bytes an index-bounded scan() fetches to decode in the
# driver (the driver-path cap; Spark decode tasks batch by DECODE_GROUPS)
DECODE_BATCH_BYTES = 64 << 20
# row groups per output batch of every Spark decode task that returns
# rows: decode_files, read_range and scan's task path (decode_df, get)
DECODE_GROUPS = 4


def _spark_schema(out_schema: pa.Schema) -> pa.Schema:
    """The Arrow schema decoded rows cross into Spark with. Spark has no
    fixed-size binary type, so FLBA columns cross as plain binary (as
    Spark reads a Parquet FLBA column); tokenc.local returns the exact
    type. `out_schema` itself when it holds no FLBA column."""
    flba = [pa.types.is_fixed_size_binary(f.type) for f in out_schema]
    if not any(flba):
        return out_schema
    return pa.schema([f.with_type(pa.binary()) if b else f
                      for f, b in zip(out_schema, flba)],
                     metadata=out_schema.metadata)


def _task_tables(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.Table]:
    """The batch rule of a Spark decode task: its input batches of blob
    rows, one row group per row, as tables of at most DECODE_GROUPS
    groups, each decoded into one output batch."""
    for b in worker_batches(batches):
        for o in range(0, b.num_rows, DECODE_GROUPS):
            yield pa.Table.from_batches([b.slice(o, DECODE_GROUPS)])


def _blob_views(tbl: pa.Table, name: str) -> list[np.ndarray]:
    """Per-row zero-copy numpy views of a binary column's payloads — no
    .as_py() copies: one view straight into the Arrow data buffer per blob,
    chunk by chunk (combining the chunks would copy every blob)."""
    out = []
    for col in tbl.column(name).chunks:
        if not len(col):
            continue
        bufs = col.buffers()
        off_dtype = (np.int64 if pa.types.is_large_binary(col.type)
                     else np.int32)
        offs = np.frombuffer(bufs[1], off_dtype)[
            col.offset: col.offset + len(col) + 1]
        data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
                else np.empty(0, np.uint8))
        out.extend(data[offs[i]:offs[i + 1]] for i in range(len(col)))
    return out


def _decode_groups(views: list[list[np.ndarray]], specs: list[ColumnSpec],
                   out_schema: pa.Schema, groups, runs=None, known=None):
    """The one chunk → Arrow assembly behind every Spark decode frontend:
    decode row groups `groups` (indexes into each column's blob views,
    `views[j]` for `specs[j]`) into ONE RecordBatch of `out_schema` as it
    crosses into Spark (_spark_schema).
    `runs[k]` says what group `groups[k]` contributes: None → the whole
    chunk (decode_chunk); a list of (row_lo, row_hi) runs → exactly those
    rows, each chunk parsed once for all runs (decode_chunk_rows_multi);
    [] → nothing. `known[k]`, when given, maps a column index to that
    group's column already decoded over its runs, which is used as is.
    Returns None when no group contributes."""
    cols: list[list[pa.Array]] = [[] for _ in specs]
    for k, i in enumerate(groups):
        r = None if runs is None else runs[k]
        if r is not None and not r:
            continue
        have = (known[k] if known is not None else None) or {}
        for j, spec in enumerate(specs):
            if j in have:
                cols[j].append(have[j])
                continue
            cds = ([decode_chunk(views[j][i])] if r is None
                   else decode_chunk_rows_multi(views[j][i], r)[0])
            cols[j].extend(_rebuild(cd, spec) for cd in cds)
    if not cols or not cols[0]:
        return None
    rb = pa.RecordBatch.from_arrays(
        [a[0] if len(a) == 1 else pa.concat_arrays(a) for a in cols],
        schema=out_schema)
    to_spark = _spark_schema(out_schema)
    return rb if to_spark is out_schema else rb.cast(to_spark)


def decode_df(enc_df, specs: list[ColumnSpec], out_schema: pa.Schema):
    """DataFrame of encoded row groups → DataFrame of decoded rows: scan()
    with no conjunct, so nothing is pruned and the residual is lit(True).
    Encoded files read faster through files.decode_files, which keeps the
    blob bytes out of the JVM."""
    return scan(enc_df, specs, out_schema, [])


INVARIANT_SCHEMA = pa.schema([
    pa.field("column", pa.string()),
    pa.field("n_rows", pa.int64()), pa.field("n_values", pa.int64()),
    pa.field("num_sum", pa.float64()), pa.field("byte_sum", pa.int64()),
])


def _invariant_rows(blob_views: list[list[np.ndarray]],
                    specs: list[ColumnSpec]) -> list[dict]:
    """Decode a batch of row groups (one blob view per column per group)
    and reduce to order-insensitive invariants, computed straight off the
    decoded ChunkData — no Arrow rebuild and no widened temporaries in the
    reduction (sum(dtype=float64) accumulates without materializing a
    float64 copy). All decode kernel work is still forced; `_rebuild`
    correctness is gated by the oracled rt_* queries and pytest."""
    rows = []
    for i in range(len(blob_views[0]) if blob_views else 0):
        for j, spec in enumerate(specs):
            cd = decode_chunk(blob_views[j][i])
            if spec.phys == codecs.PHYS_BYTE_ARRAY and not (
                    _is_decimal_spec(spec)):
                n_vals = cd.ba_offsets.size - 1
                rows.append({"column": spec.name, "n_rows": cd.n_rows,
                             "n_values": int(cd.list_lengths.sum())
                             if spec.is_list and cd.list_lengths is not None
                             else n_vals,
                             "num_sum": 0.0,
                             "byte_sum": int(cd.ba_offsets[-1] - cd.ba_offsets[0])})
            elif _is_decimal_spec(spec) and spec.phys == codecs.PHYS_BYTE_ARRAY:
                be = np.asarray(cd.ba_data)[int(cd.ba_offsets[0]):
                                            int(cd.ba_offsets[-1])]
                pair = be.reshape(-1, 16)
                hi = pair[:, :8][:, ::-1].copy().view(np.int64).ravel()
                lo = pair[:, 8:][:, ::-1].copy().view(np.uint64).ravel()
                s = float((hi.astype(np.float64) * 2.0**64).sum()
                          + lo.astype(np.float64).sum())
                rows.append({"column": spec.name, "n_rows": cd.n_rows,
                             "n_values": cd.ba_offsets.size - 1,
                             "num_sum": s, "byte_sum": 0})
            else:
                vals = cd.values
                n_vals = int(vals.size)
                s = float(vals.sum(dtype=np.float64)) if n_vals else 0.0
                rows.append({"column": spec.name, "n_rows": cd.n_rows,
                             "n_values": n_vals, "num_sum": s, "byte_sum": 0})
    return rows


def read_range(enc_df, specs: list[ColumnSpec], out_schema: pa.Schema,
               offset: int, count: int):
    """Decode only rows [offset, offset+count) in (rg_part, rg_idx) order —
    the distributed SkipRows / ReadByNumber analog (reader/reader.go:179-253,
    reader/columnbuffer.go:158-230): row groups wholly before/after the range
    are filtered out on their manifest row counts and NEVER decoded; the two
    boundary row groups are decoded and sliced.

    Row order across groups is (rg_part, rg_idx); it equals a global row
    order whenever the encode input was ordered (repartitionByRange +
    sortWithinPartitions) or single-partition. Driver-side state is one
    tiny (rg_part, rg_idx, n_rows, content key) row per row group — the
    footer read, not data.

    `enc_df` must be PINNED to one materialization (persisted+materialized,
    a read of stored encoded data, or an encode of a deterministic lineage
    such as a parquet read): this call runs two actions — the manifest
    collect and the decode — and an unpersisted lineage containing
    repartitionByRange RE-SAMPLES its range boundaries per action, so the
    decode job's row groups can hold different rows than the manifest the
    slice bounds were computed from (the same two-action hazard documented
    at _is_persisted / pipeline.packing). Each decoded group's content key
    is checked against the one the manifest pass saw, and a mismatch
    raises loudly instead of returning a silently shifted slice (expected
    keys ship for every overlapping group up to a closure-size cap; beyond
    it, boundary groups still check). A group re-materialized with equal
    row count, null counts and min/max is not detected.
    """
    from pyspark.sql import functions as F

    # the content key names a group's ROWS, not its encoding: unlike the
    # blob-hash rg_id it survives an unpersisted re-encode picking other
    # codecs for the same rows (the per-worker selector.WORKER_MEMO)
    ck = F.sha1(F.to_json(F.struct("n_rows", *[F.struct(*[
        F.col(f"{s.name}_meta.{f}") for f in
        ("null_count", "n_values", "min_json", "max_json")]).alias(s.name)
        for s in specs])))
    man = (enc_df.select("rg_part", "rg_idx", "n_rows", ck.alias("_ck"))
           .toPandas().sort_values(["rg_part", "rg_idx"]).reset_index(drop=True))
    lo, hi = offset, offset + count
    # vectorized overlap computation — the manifest may have millions of
    # rows at scale; no python-level row loop
    n_rows_arr = man["n_rows"].to_numpy(np.int64)
    ends = np.cumsum(n_rows_arr)
    starts = ends - n_rows_arr
    sel = (ends > lo) & (starts < hi)
    keys = ((man["rg_part"].to_numpy(np.int64) << 32)
            | man["rg_idx"].to_numpy(np.int64))[sel]
    skips = np.maximum(0, lo - starts[sel])
    takes = np.minimum(ends[sel], hi) - np.maximum(starts[sel], lo)
    # only the (≤2) PARTIAL boundary groups need per-group slice bounds;
    # interior groups decode whole. The overlapping groups are consecutive
    # in (rg_part, rg_idx) order, so one BETWEEN on the composite key prunes
    # exactly — O(1) expression size however many row groups the manifest
    # holds (vs an isin() list that would reach megabytes at 100 TB)
    bounds: dict[int, tuple[int, int]] = {
        int(k): (int(s), int(t)) for k, s, t, n in
        zip(keys, skips, takes, n_rows_arr[sel])
        if s != 0 or t != n}
    # divergence detection needs the expected key of EVERY overlapping
    # group, not just the partial boundary ones — a re-materialized
    # lineage changes interior groups too, even at equal row counts.
    # Capped so a pathological full-table range doesn't ship a huge
    # closure; beyond the cap boundary groups still check (re-sampled
    # boundaries move every group's content, so they fire in practice).
    _EXPECT_CAP = 1 << 17
    expect_ck: dict[int, str] = {
        int(k): c for k, c in zip(keys, man["_ck"].to_numpy()[sel])
        if keys.size <= _EXPECT_CAP or int(k) in bounds}
    key_col = (F.shiftleft(F.col("rg_part").cast("long"), 32)
               + F.col("rg_idx").cast("long"))
    pruned = enc_df.where(
        key_col.between(int(keys[0]), int(keys[-1])) if keys.size
        else F.lit(False)).withColumn("_ck", ck)

    def decode_slice(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl in _task_tables(batches):
            parts = tbl.column("rg_part").to_pylist()
            idxs = tbl.column("rg_idx").to_pylist()
            cks = tbl.column("_ck").to_pylist()
            views = [_blob_views(tbl, f"{s.name}_blob") for s in specs]
            n_rows_col = tbl.column("n_rows").to_pylist()
            # one row group per input row; interior groups decode fully,
            # boundary groups decode ONLY the sub-chunk pages overlapping
            # the requested rows
            runs = []
            for i in range(tbl.num_rows):
                key = (parts[i] << 32) | idxs[i]
                exp = expect_ck.get(key)
                if exp is not None and cks[i] != exp:
                    # the decode job materialized DIFFERENT row groups
                    # than the manifest collect (re-sampled
                    # repartitionByRange boundaries in an unpersisted
                    # lineage) — slicing would silently shift rows
                    raise RuntimeError(
                        "read_range: row group (%d,%d) has content key %s "
                        "but the manifest pass saw %s — the input lineage "
                        "re-materialized with different rows between the "
                        "two actions. persist() + materialize enc_df (or "
                        "encode from a deterministic source) before "
                        "read_range." % (parts[i], idxs[i], cks[i], exp))
                skip, take = bounds.get(key, (0, n_rows_col[i]))
                whole = skip == 0 and take == n_rows_col[i]
                runs.append(None if whole else [(skip, skip + take)])
            yield _decode_groups(views, specs, out_schema,
                                 range(tbl.num_rows), runs)

    return pruned.mapInArrow(decode_slice,
                             from_arrow_schema(_spark_schema(out_schema)))


def _bloom_probe_hashes(value) -> np.ndarray | None:
    """SBBF probe hashes for a Python literal, or None when the value
    doesn't map onto the filter's stored hash domain (date/Decimal/...,
    or an int beyond float64 range) — None means "cannot disprove", so
    callers must KEEP, never drop."""
    from . import bloom as _bloom

    if isinstance(value, str):
        value = value.encode()
    if not isinstance(value, (bytes, bool, int, float)):
        return None
    if isinstance(value, bytes):
        return _bloom.hash_values(np.array([value], dtype=object))
    # the filter was built at the COLUMN's physical type (int64 or
    # float64 normalization in bloom.hash_values); the caller's Python
    # literal may be the other flavor (probe 5 against a float column
    # that stored 5.0 hashes differently). Probe every plausible
    # width and keep the row group if ANY variant might match —
    # widening only costs false keeps, never false prunes.
    variants = []
    if isinstance(value, bool):
        # a bool probe can land on an int64 OR float64-normalized column
        # (Spark casts bool to the column type in the residual filter);
        # hash both widths — int64-only would falsely prune float columns
        # storing 1.0/0.0
        variants.append(np.array([int(value)], dtype=np.int64))
        variants.append(np.array([float(value)], dtype=np.float64))
    else:
        try:
            fv = float(value)
        except OverflowError:
            # int with magnitude beyond float64 range: unprobeable at
            # either stored width
            return None
        variants.append(np.array([fv], dtype=np.float64))
        if ((isinstance(value, int)
             or (isinstance(value, float) and value.is_integer()))
                and -2 ** 63 <= value < 2 ** 63):
            variants.append(np.array([int(value)], dtype=np.int64))
    return np.concatenate([_bloom.hash_values(v) for v in variants])


def prune_rowgroups_eq(enc_df, column: str, value):
    """Point-lookup row-group pruning via the per-chunk split-block bloom
    filter (tokenc/bloom.py): drops every row group whose filter proves
    `column != value` everywhere — effective on UNSORTED high-cardinality
    keys where min/max ranges overlap and prune nothing. The probe runs
    one bloom check per ROW GROUP (metadata scale) inside a vectorized
    pandas UDF over the manifest's meta struct; chunks without a filter
    (bloom not opted in at encode) are kept. scan()/get() check the same
    filters per value inside their decode body instead; this form is for
    callers that want the pruned manifest itself."""
    import pandas as pd
    from pyspark.sql import functions as F

    from . import bloom as _bloom

    probe = _bloom_probe_hashes(value)
    if probe is None:
        # prune is advisory, never lossy — keep everything
        return enc_df

    def _might(blobs):
        out = []
        for b in blobs:
            out.append(True if b is None
                       else bool(_bloom.might_contain(bytes(b), probe).any()))
        return pd.Series(out)

    # annotation-free + explicit returnType: immune to the module's
    # `from __future__ import annotations` stringified hints
    _might.__annotations__ = {"blobs": pd.Series, "return": pd.Series}
    might = F.pandas_udf(_might, "boolean")
    return enc_df.where(might(F.col(f"{column}_meta.bloom")))


def prune_rowgroups_str(enc_df, column: str, lo: str | None = None,
                        hi: str | None = None):
    """Row-group pruning for a STRING range [lo, hi] on the manifest's
    lexicographic min/max stats — prune()'s range keep condition for
    callers that hold no specs."""
    cond = _minmax_keep(column, True, lo, hi)
    return enc_df if cond is None else enc_df.where(cond)


def verify_table(enc_df, specs):
    """Distributed bit-rot audit: recompute every blob's CRC32 and return
    the mismatches as (rg_id, column, stored_crc, actual_crc) — empty
    DataFrame ⇔ every chunk byte-identical to what encode committed. Reads
    blobs sequentially, decodes nothing; one pass at container scan speed,
    embarrassingly parallel. Chunks written before checksums landed (null
    stored crc) are skipped, not failed. `specs` may be ColumnSpecs or
    bare column names (the audit needs only the names)."""
    from pyspark.sql import functions as F

    names = [s if isinstance(s, str) else s.name for s in specs]
    sel = enc_df.select(
        "rg_id",
        *[c for s in names
          for c in (F.col(f"{s}_blob"),
                    F.col(f"{s}_meta.crc32").alias(f"{s}__crc"))])
    out_schema = pa.schema([
        pa.field("rg_id", pa.string()), pa.field("column", pa.string()),
        pa.field("stored_crc", pa.int64()), pa.field("actual_crc", pa.int64()),
    ])

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in worker_batches(batches):
            tbl = pa.Table.from_batches([b])
            if tbl.num_rows == 0:
                continue
            rg = tbl.column("rg_id").to_pylist()
            out = {"rg_id": [], "column": [], "stored_crc": [],
                   "actual_crc": []}
            for name in names:
                views = _blob_views(tbl, f"{name}_blob")
                stored = tbl.column(f"{name}__crc").to_pylist()
                for i, v in enumerate(views):
                    if stored[i] is None:
                        continue
                    actual = zlib.crc32(v)
                    if actual != stored[i]:
                        out["rg_id"].append(rg[i])
                        out["column"].append(name)
                        out["stored_crc"].append(stored[i])
                        out["actual_crc"].append(actual)
            if out["rg_id"]:
                yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return sel.mapInArrow(fn, from_arrow_schema(out_schema))


_sorted_indexes = None  # weakref.WeakKeyDictionary, created on first use


def _is_persisted(df) -> bool:
    """True when the DataFrame is cached/persisted. The AUTO index paths
    require this: building an index collects the manifest in its own
    action, and an unpersisted encode whose lineage contains a
    nondeterministic stage boundary (repartitionByRange RE-SAMPLES its
    range boundaries per action) produces different row groups — and
    content-hash rg_ids — on the index-build run vs the scan run, so an
    rg_id IN-list from one action must never filter another. Persisted
    frames pin one materialization; everything else keeps the
    single-action distributed stats prunes (always consistent: they
    evaluate inside the same job as the decode)."""
    try:
        sl = df.storageLevel
        return bool(sl.useMemory or sl.useDisk)
    except Exception:
        return False


class _GroupCache:
    """The blobs scan()'s driver path fetched, kept in the driver so a
    later index-bounded lookup takes every row group it already holds
    from here and fetches only the rest. Entries are keyed by (frame
    handle, rg_id), one Arrow array per fetched column (each `*_blob`,
    each `{col}_meta.bloom` a probe reads) holding the rows of that rg_id.
    Frames are held weakly, like _sorted_indexes, so a frame's entries go
    with its handle. At most DECODE_BATCH_BYTES bytes are held over all
    frames, evicting the least recently used group first; each entry owns
    its buffers (one copy when it is stored), so what an eviction frees
    is what the budget counted. One lock guards it all, so lookups from
    several driver threads can share it."""

    def __init__(self):
        self._lock = threading.Lock()
        self._lru: OrderedDict = OrderedDict()  # (token, rg_id) → entry
        self._tokens = weakref.WeakKeyDictionary()  # frame → token
        self._dead: list = []  # tokens of collected frames
        self.nbytes = 0

    def _forget(self, token):
        # runs when a frame is collected, maybe inside a locked section
        # of this thread: purge now only if the lock is free, else at the
        # next use
        self._dead.append(token)
        if self._lock.acquire(blocking=False):
            try:
                self._purge()
            finally:
                self._lock.release()

    def _purge(self, *tokens):
        dead = set(tokens)
        while self._dead:  # pop, not clear: _forget may append meanwhile
            dead.add(self._dead.pop())
        if dead:
            for key in [key for key in self._lru if key[0] in dead]:
                self.nbytes -= _entry_bytes(self._lru.pop(key))

    def get(self, frame, ids, columns) -> tuple[dict, list]:
        """→ ({rg_id: entry} for the groups of `ids` held with every one of
        `columns`, [the other rg_ids])."""
        hits, missing = {}, []
        with self._lock:
            self._purge()
            token = self._tokens.get(frame)
            for rid in ids:
                key = (token, rid)
                entry = self._lru.get(key)
                if entry is not None and all(c in entry for c in columns):
                    self._lru.move_to_end(key)
                    hits[rid] = entry
                else:
                    missing.append(rid)
        return hits, missing

    def put(self, frame, tbl: pa.Table) -> dict:
        """Store the groups of `tbl` (an `rg_id` column plus the fetched
        columns, one row per group) → {rg_id: entry}."""
        parts: dict = {}
        for rb in tbl.to_batches():
            for i, rid in enumerate(rb.column("rg_id").to_pylist()):
                parts.setdefault(rid, []).append(rb.slice(i, 1))
        cols = [c for c in tbl.column_names if c != "rg_id"]
        # concat_arrays copies just these rows into buffers of their own
        # (Table.take would first combine every chunk of the table)
        fresh = {rid: {c: pa.concat_arrays([p.column(c) for p in ps])
                       for c in cols} for rid, ps in parts.items()}
        with self._lock:
            self._purge()
            token = self._tokens.get(frame)
            if token is None:
                token = self._tokens[frame] = object()
                weakref.finalize(frame, self._forget, token)
            for rid, entry in fresh.items():
                old = self._lru.pop((token, rid), None)
                if old is not None:
                    self.nbytes -= _entry_bytes(old)
                    entry = {**old, **entry}
                self._lru[(token, rid)] = entry
                self.nbytes += _entry_bytes(entry)
            while self.nbytes > DECODE_BATCH_BYTES and self._lru:
                self.nbytes -= _entry_bytes(self._lru.popitem(last=False)[1])
        return fresh

    def clear(self, frame):
        """Drop every entry of `frame`."""
        with self._lock:
            self._purge(self._tokens.get(frame))

    def held(self, frame) -> set:
        """The rg_ids held for `frame`."""
        with self._lock:
            token = self._tokens.get(frame)
            return {rid for t, rid in self._lru if t is token}


def _entry_bytes(entry: dict) -> int:
    return sum(a.nbytes for a in entry.values())


_group_cache = _GroupCache()


def _index_mat_token(enc_df, column: str):
    """ONE single-row aggregate over the persisted manifest: a
    materialization fingerprint (row-group count + order-independent
    xor of the content-hash rg_ids — ANY membership change flips it,
    including one in the middle of the hash range that count and
    min/max extremes would miss) and whether every chunk of `column` is
    internally sorted. The fingerprint guards the memoized index against
    a handle that was unpersisted and re-cached, or that lost cached
    blocks and recomputed some partitions: the recompute re-samples
    repartitionByRange boundaries, so the new materialization has
    different rg_ids and a stale index's IN-list would silently drop
    their rows. The all-sorted bit lets clustered-only
    callers skip the O(n) manifest collect when the layout can't qualify."""
    from pyspark.sql import functions as F

    r = enc_df.agg(
        F.count("*").alias("n"),
        # bit_xor never overflows (ANSI-safe, unlike sum of int64)
        F.expr("bit_xor(xxhash64(rg_id))").alias("hxor"),
        F.min(F.coalesce(F.col(f"{column}_meta.sorted"),
                         F.lit(False))).alias("allsrt")).collect()[0]
    return (r["n"], r["hxor"]), bool(r["allsrt"])


def sorted_index_for(enc_df, column: str, require_clustered: bool = False):
    """Build-and-memoize a SortedKeyIndex per (DataFrame handle, column).
    The build is ONE metadata collect of (rg_id, min, max, sorted) —
    tens of MB at 10^6 row groups — paid on the FIRST lookup against this
    handle and reused by every later scan()/get() on it (the cache is
    weak-keyed on the DataFrame object, so it dies with the handle).
    Every call re-checks a 1-row materialization fingerprint
    (_index_mat_token) so a re-persisted handle rebuilds instead of
    filtering on stale rg_ids. That per-call check IS a (tiny,
    manifest-metadata-only) Spark job — a deliberate trade: block
    eviction and recompute are invisible to the driver, so any
    check-less scheme risks silently dropping recomputed row groups,
    and the job costs the same class as the query planning it guards. With `require_clustered` (scan()'s range
    path, which discards non-clustered indexes) an unsorted layout skips
    the full-manifest collect entirely. Returns None when the column's
    stats can't index (mixed-type or missing stats, list columns):
    callers fall back to the distributed stats-scan prunes."""
    global _sorted_indexes
    from .sorted_index import SortedKeyIndex

    if _sorted_indexes is None:
        _sorted_indexes = weakref.WeakKeyDictionary()
    cache = _sorted_indexes.setdefault(enc_df, {})
    try:
        token, all_sorted = _index_mat_token(enc_df, column)
    except Exception:
        # no meta struct for this column (AnalysisException) — index
        # unavailable, not fatal: the stats-scan prune path handles it
        return None
    hit = cache.get(column)
    if hit is not None and hit[0] != token:
        # a new materialization: the driver's cached groups of the old
        # one go with its index
        _group_cache.clear(enc_df)
    if hit is not None and hit[0] == token:
        state, idx = hit[1], hit[2]
        if state == "built" or require_clustered:
            return idx
        # 'skipped' entry from an earlier clustered-only call; a point-
        # lookup caller wants the overlap-tolerant index — build it now
    if require_clustered and not all_sorted:
        # unsorted chunks force clustered=False, which the caller would
        # discard — record the skip without the O(n) collect + sort
        cache[column] = (token, "skipped", None)
        return None
    try:
        idx = SortedKeyIndex.build(enc_df, column)
    except Exception:
        # mixed-type stats (TypeError) — the stats-scan prunes handle it
        idx = None
    cache[column] = (token, "built", idx)
    return idx


# a probed rg_id set bigger than this would put an unwieldy literal
# IN-list into the plan; past it the distributed stats-scan prune is the
# better shape anyway (the index only wins when the probe is selective)
_INDEX_ISIN_CAP = 4096

# element type a `match` predicate sees the recorded distinct set as.
# Logical types (date/decimal/timestamp) record their storage integers,
# which a predicate written for the logical column can't be applied to.
_MATCH_ELEM = {codecs.PHYS_BYTE_ARRAY: "string", codecs.PHYS_BOOL: "boolean",
               codecs.PHYS_INT32: "double", codecs.PHYS_INT64: "double",
               codecs.PHYS_FLOAT: "double", codecs.PHYS_DOUBLE: "double"}


def _minmax_keep(column: str, is_str: bool, lo, hi):
    """Keep condition of the range [lo, hi] on a chunk's manifest min/max,
    or None when no bound is comparable (date/Decimal literals on numeric
    stats fall back to the residual alone). Numeric stats compare as
    double; string stats lexicographically on the JSON-extracted values
    (Spark's UTF8 binary collation is the byte order the stats were
    computed in). Chunks without stats (omit_stats, all-null) are kept:
    the numeric parse is a try_cast, so a 'null' stat never crashes the
    ANSI cast; string absence is detected on the RAW json (the 4-char
    'null'), because get_json_object extracts the real string value
    "null" to the same 4 chars."""
    from pyspark.sql import functions as F

    if lo is None and hi is None or not (
            is_str or isinstance(lo if lo is not None else hi, (int, float))):
        return None
    raw_mn = F.col(f"{column}_meta.min_json")
    raw_mx = F.col(f"{column}_meta.max_json")
    mn, mx = F.get_json_object(raw_mn, "$"), F.get_json_object(raw_mx, "$")
    if is_str:
        no_stats = (raw_mn.isNull() | raw_mx.isNull()
                    | (raw_mn == F.lit("null")) | (raw_mx == F.lit("null")))
    else:
        mn, mx = mn.try_cast("double"), mx.try_cast("double")
        no_stats = mn.isNull() | mx.isNull()
        lo, hi = (None if v is None else float(v) for v in (lo, hi))
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (mx >= F.lit(lo))
    if hi is not None:
        cond = cond & (mn <= F.lit(hi))
    return no_stats | cond


def _keep(spec: ColumnSpec, op: str, val, ids):
    """The row-group keep condition of ONE normalised conjunct (see
    _conjuncts), or None when nothing on the manifest can disprove it:
      * `rg_id IN ids` when a sorted index answered selectively (`ids`
        not None), else the min/max stats chosen by the spec's physical
        type;
      * point conjuncts also need an overlap with the chunk's recorded
        DISTINCT set (the metadata-scale analog of dictionary-page
        filtering, reference layout/dictpage.go:74-152);
      * `match` applies its predicate to the distinct set with F.exists,
        so LIKE/regex predicates prune, which blooms (equality-only) and
        min/max (range-only) cannot.
    Chunks without the relevant metadata are kept, never dropped."""
    from pyspark.sql import functions as F

    col = spec.name
    dj = F.col(f"{col}_meta.distinct_json")
    if op == "match":
        elem = _MATCH_ELEM.get(spec.phys)
        if elem is None or spec.arrow_type is not None or spec.is_list:
            return None
        return dj.isNull() | F.exists(F.from_json(dj, f"array<{elem}>"), val)
    if op == "in" and not val:
        return F.lit(False)  # an empty IN-list matches no row
    lo, hi = val if op == "range" else (None, None)
    if op == "in":
        try:
            lo, hi = min(val), max(val)
        except TypeError:
            pass
    cond = (F.col("rg_id").isin(ids) if ids is not None else
            _minmax_keep(col, spec.phys == codecs.PHYS_BYTE_ARRAY, lo, hi))
    if op != "in":
        return cond
    if all(isinstance(v, bool) for v in val):
        elem, lits = "boolean", val
    elif all(isinstance(v, (int, float)) and not isinstance(v, bool)
             for v in val):
        # numeric distinct lists parse as double, like the min/max stats
        # (exact for |v| < 2^53)
        elem, lits = "double", [float(v) for v in val]
    elif all(isinstance(v, (str, bytes)) for v in val):
        # the distinct set stores byte-array values decoded utf-8 with
        # replacement chars (_chunk_distinct); bytes probes must take the
        # SAME decode or a valid value like b'R' would stringify to "b'R'"
        # and silently prune row groups that do contain it. Replacement
        # can only merge distinct byte strings → false keeps, never drops.
        elem = "string"
        lits = [v.decode("utf-8", "replace") if isinstance(v, bytes) else v
                for v in val]
    else:
        # date/Decimal/... probes: the set can't prove absence
        return cond
    overlap = dj.isNull() | F.arrays_overlap(
        F.from_json(dj, f"array<{elem}>"), F.array(*[F.lit(v) for v in lits]))
    return overlap if cond is None else cond & overlap


def _conjuncts(spec_by: dict, filters):
    """Normalise (column, op, value) filters → (conjuncts, residual).
    Range ops on one column merge into ONE (col, 'range', [lo, hi])
    entry at the position of the column's first range op; '=' becomes a
    one-value 'in'. So every conjunct is (col, 'range', [lo, hi]),
    (col, 'in', [values]) or (col, 'match', pred), and `residual` is the
    exact Spark predicate of the whole conjunction."""
    from pyspark.sql import functions as F

    conj, ranges, residual = [], {}, F.lit(True)
    for col, op, val in filters:
        if col not in spec_by:
            raise KeyError(f"filter column {col!r} not in projected specs")
        c, lo, hi = F.col(col), None, None
        if op in ("=", "==", "in"):
            vals = list(val) if op == "in" else [val]
            conj.append((col, "in", vals))
            residual &= c.isin(vals) if op == "in" else c == val
            continue
        if op == "match":
            conj.append((col, "match", val))
            residual &= val(c)
            continue
        if op in (">=", ">"):
            lo = val
            residual &= c >= val if op == ">=" else c > val
        elif op in ("<=", "<"):
            hi = val
            residual &= c <= val if op == "<=" else c < val
        elif op == "between":
            lo, hi = val
            residual &= c.between(lo, hi)
        else:
            raise ValueError(f"unsupported scan op: {op!r}")
        if col not in ranges:
            ranges[col] = [None, None]
            conj.append((col, "range", ranges[col]))
        b = ranges[col]
        if lo is not None:
            b[0] = lo if b[0] is None else max(b[0], lo)
        if hi is not None:
            b[1] = hi if b[1] is None else min(b[1], hi)
    return conj, residual


def _prune(enc_df, spec_by: dict, conj: list, indexes, auto_index: bool):
    """prune() on normalised conjuncts, with no Spark plan built yet →
    (keeps, ids, nbytes): keeps, one (spec, op, value, index ids) entry
    per conjunct, which _where turns into _keep conditions ANDed into one
    where; ids, the rg_ids every index-answered conjunct kept (their
    intersection, in the first one's order; None when no index answered)
    — no other group survives; and nbytes, the fewest blob bytes any
    index-answered conjunct kept (None when no answering index knows its
    groups' sizes). A column's index is `indexes[col]`, else — with
    `auto_index`, and only on a persisted frame (_is_persisted) — the
    memoized sorted_index_for: point conjuncts look each value up on any
    layout (the prefix-max lookup is correct for any overlap pattern),
    range conjuncts probe it only when it is clustered."""
    points = {col for col, op, _ in conj if op == "in"}
    auto, keeps, kept, nbytes = {}, [], None, None
    for col, op, val in conj:
        idx = (indexes or {}).get(col)
        if (idx is None and op != "match" and auto_index
                and _is_persisted(enc_df)):
            if col not in auto:
                auto[col] = sorted_index_for(
                    enc_df, col, require_clustered=col not in points)
            idx = auto[col]
            if idx is not None and op == "range" and not idx.clustered:
                idx = None
        ids = None
        if idx is not None and op != "match":
            try:
                ids = (idx.probe(*val) if op == "range"
                       else sorted({i for v in val for i in idx.lookup(v)}))
            except TypeError:
                # probe literal incomparable with the JSON-parsed stats
                # (date/Decimal bounds vs str/float entries)
                ids = None
        if ids is not None and len(ids) > _INDEX_ISIN_CAP:
            # unselective probe: a huge IN-list literal is worse than
            # the distributed stats prune
            ids = None
        if ids is not None:
            held = set(ids)
            kept = [i for i in (ids if kept is None else kept) if i in held]
            b = idx._blob_bytes(ids)
            if b is not None:
                nbytes = b if nbytes is None else min(nbytes, b)
        keeps.append((spec_by[col], op, val, ids))
    return keeps, kept, nbytes


def _where(enc_df, keeps, *extra):
    """enc_df restricted by one where: every keep's _keep condition and
    the `extra` Column conditions, ANDed (enc_df itself when none)."""
    conds = [c for c in (_keep(*kp) for kp in keeps) if c is not None]
    conds += extra
    return enc_df.where(reduce(operator.and_, conds)) if conds else enc_df


def prune(enc_df, specs: list[ColumnSpec], filters,
          indexes: dict | None = None, auto_index: bool = True):
    """Row-group pruning for a conjunction of (column, op, value) filters
    (the ops scan() takes) — scan()'s tier 1 on its own: `enc_df`
    restricted, by ONE where over manifest metadata, to the row groups
    that may hold a matching row, before any blob is read (the
    distributed analog of the reference's ColumnIndex-driven skipping,
    reader/columnbuffer.go:158-230). `match` takes a Column → Column
    predicate (e.g. `lambda x: x.like('R%')`) evaluated on the chunk's
    recorded distinct set. Blooms are not probed here: scan() checks them
    per value inside its decode body, and prune_rowgroups_eq is the
    metadata-side bloom prune."""
    spec_by = {s.name: s for s in specs}
    conj = _conjuncts(spec_by, filters)[0]
    return _where(enc_df, _prune(enc_df, spec_by, conj, indexes,
                                 auto_index)[0])


def _key_prefilter(spec: ColumnSpec, op: str, val):
    """The driving conjunct as a pyarrow.compute test over its decoded
    column, `pred(key, vals) → bool mask` (`vals`: the live values of an
    'in' conjunct), or None where Arrow's answer may differ from Spark's.
    Only int32/int64 columns with int literals and byte-array columns with
    str/bytes literals qualify (compared as int64 and as raw bytes, which
    is Spark's order), with no logical type and no list. The mask may keep
    more rows than the conjunct (merged strict bounds compare inclusive),
    never fewer: the Spark residual stays the exact filter."""
    if spec.arrow_type is not None or spec.is_list:
        return None
    lits = [v for v in val if v is not None] if op == "range" else list(val)
    if spec.phys == codecs.PHYS_BYTE_ARRAY and all(
            isinstance(v, (str, bytes)) for v in lits):
        typ = pa.binary()

        def conv(v):
            return v.encode() if isinstance(v, str) else v
    elif spec.phys in (codecs.PHYS_INT32, codecs.PHYS_INT64) and all(
            isinstance(v, int) and not isinstance(v, bool)
            and -2 ** 63 <= v < 2 ** 63 for v in lits):
        typ, conv = pa.int64(), int
    else:
        return None

    def pred(key: pa.Array, vals) -> np.ndarray:
        a = key.cast(typ)
        if op == "in":
            m = pc.is_in(a, value_set=pa.array([conv(v) for v in vals], typ))
        else:
            conds = []
            if val[0] is not None:
                conds.append(pc.greater_equal(a, pa.scalar(conv(val[0]), typ)))
            if val[1] is not None:
                conds.append(pc.less_equal(a, pa.scalar(conv(val[1]), typ)))
            m = reduce(pc.and_, conds)
        return np.asarray(m.fill_null(False))

    return pred


def _key_first(blob: np.ndarray, spec: ColumnSpec, runs, hits):
    """Late materialization of one group: decode the driving column over
    `runs` (None = the whole chunk), keep the rows the `hits` mask marks →
    (their key values, their row runs). The other columns then decode
    only over those runs; a group without a hit decodes nothing more."""
    if runs is None:
        cds = [decode_chunk(blob)]
        runs = [(0, cds[0].n_rows)]
    else:
        cds = decode_chunk_rows_multi(blob, runs)[0]
    parts = [_rebuild(cd, spec) for cd in cds]
    key = parts[0] if len(parts) == 1 else pa.concat_arrays(parts)
    m = hits(key)
    rows = np.concatenate([np.arange(lo, lo + cd.n_rows)
                           for (lo, _), cd in zip(runs, cds)])[m]
    if not rows.size:
        return None, []
    brk = np.flatnonzero(np.diff(rows) != 1) + 1
    starts = rows[np.r_[0, brk]]
    ends = rows[np.r_[brk - 1, rows.size - 1]] + 1
    return key.filter(pa.array(m)), list(zip(starts.tolist(), ends.tolist()))


def _lookup_batch(tbl: pa.Table, specs: list[ColumnSpec],
                  out_schema: pa.Schema, probes, drive):
    """The one decode body of scan(), run by its mapInArrow task and by its
    driver path alike: `tbl` holds surviving row groups, one per row, with
    every spec's `*_blob` and a `__bloom{k}` column per entry of `probes`
    ((conjunct index, [(value, bloom hashes)]) per 'in' conjunct). Per
    group: point conjuncts check the chunk's bloom per value (a group where
    some point conjunct has no value left is skipped); the page directory
    of the driving conjunct's column selects row runs; where
    `drive`'s pre-filter exists the key column decodes first and the rest
    only over its hits (_key_first). `drive` is (column index in specs,
    conjunct index, range bounds, pre-filter or None), or None to decode
    every surviving group whole. → one RecordBatch of `out_schema` as it
    crosses into Spark (_spark_schema), or None when no row survives."""
    from . import bloom as _bloom

    n = tbl.num_rows
    if n == 0:
        return None
    views = [_blob_views(tbl, f"{s.name}_blob") for s in specs]
    blooms = [tbl.column(f"__bloom{k}").to_pylist() for k, _ in probes]
    dj, dk, dval, pred = (None,) * 4 if drive is None else drive
    runs, known = [], []
    for i in range(n):
        live = {}
        for (k, pv), bl in zip(probes, blooms):
            bb = None if bl[i] is None else bytes(bl[i])
            live[k] = [v for v, hs in pv if bb is None or hs is None
                       or bool(_bloom.might_contain(bb, hs).any())]
        # None (no driving conjunct / no usable page directory) decodes
        # the whole chunk; [] (no page can match) skips it
        r, have = None, None
        if not all(live.values()):
            r = []
        elif drive is not None:
            vals = live.get(dk)
            # ONE parse (incl. decompression) for all live values
            r = (page_filter_row_runs(views[dj][i], *dval) if vals is None
                 else page_filter_row_runs_multi(views[dj][i], vals))
            if pred is not None and r != []:
                key, r = _key_first(views[dj][i], specs[dj], r,
                                    lambda a: pred(a, vals))
                have = {dj: key}
        runs.append(r)
        known.append(have)
    return _decode_groups(views, specs, out_schema, range(n), runs, known)


def _driver_input(enc_df, keeps, ids, src: dict) -> pa.Table:
    """The driver path's _lookup_batch input: the row groups `ids` (as
    _prune returns them), one per row, with each column of `src` (input
    name → frame column). On a persisted frame the groups come from
    _group_cache and only the missing ones are fetched, through the
    pruned frame restricted to them; cached groups skip the min/max and
    distinct keeps, which only ever prune (may-match), so the bloom, the
    key-first mask and the residual still make the rows exact. With
    nothing missing no Spark job runs and no plan is built. An
    unpersisted frame fetches every group, every time."""
    from pyspark.sql import functions as F

    cols = list(dict.fromkeys(src.values()))

    def fetch(*extra) -> pa.Table:
        # a nested field needs its alias; a top-level column reads faster
        # without one
        return _where(enc_df, keeps, *extra).select(
            "rg_id", *[F.col(c).alias(c) if "." in c else c
                       for c in cols]).toArrow()

    if not _is_persisted(enc_df):
        tbl = fetch()
        return pa.table({a: tbl.column(c) for a, c in src.items()})
    hits, missing = _group_cache.get(enc_df, ids, cols)
    if missing:
        hits.update(_group_cache.put(enc_df, fetch(
            *([F.col("rg_id").isin(missing)] if hits else []))))
    entries = [hits[r] for r in dict.fromkeys(ids) if r in hits]
    if not entries:
        return pa.table({a: pa.array([], pa.binary()) for a in src})
    # one chunk per group, no copy: _blob_views walks the chunks
    return pa.table({a: pa.chunked_array([e[c] for e in entries])
                     for a, c in src.items()})


def scan(enc_df, specs: list[ColumnSpec], out_schema: pa.Schema,
         filters, indexes: dict | None = None, auto_index: bool = True):
    """Compound-predicate scan — the ONE predicate path, for a conjunction
    of per-column predicates the way a Spark user writes
    `.filter(a AND b)`. Three pruning tiers compose before any full
    decode (the combined ColumnIndex+OffsetIndex skipping of the
    reference, writer/writer.go:418-481 + reader/columnbuffer.go:158-230,
    which is also per-column and composed by the reader):

      1. ROW GROUPS: prune() — every conjunct's manifest keep condition
         (sorted-index rg_id IN-list, min/max, distinct set) in one where.
      2. ONE DECODE BODY (_lookup_batch) over the surviving row groups:
         point conjuncts check the chunk's bloom per value (a group where
         some point conjunct has no value left is skipped); then the page
         directory of the driving conjunct's column (the first conjunct
         with comparable bounds) selects row spans —
         page_filter_row_runs for a range, page_filter_row_runs_multi for
         the surviving point values. On an int or string driving column
         the key column decodes first over those spans, pyarrow.compute
         evaluates the conjunct, and the other projected columns decode
         only the hit rows (chunk.decode_chunk_rows_multi —
         skip-without-decode, late materialization); elsewhere every
         projected column decodes the page spans.
      3. RESIDUAL: the exact predicate re-applies on the decoded rows as
         a Spark filter (pruning is may-match, same as the reference).

    Where an index bounds the survivors and their blobs total at most
    DECODE_BATCH_BYTES (the index records each group's blob bytes), the
    decode body runs in the driver: the kept blobs are fetched when
    scan() is called, not lazily, and the result is a local relation
    (LocalTableScan) with the residual on top, so no Python worker
    starts. On a persisted frame the fetched groups stay in the driver
    (_group_cache, at most DECODE_BATCH_BYTES over all frames, least
    recently used out first) and a later lookup fetches only the groups
    it does not hold; one that holds them all fetches nothing (with an
    explicit index it runs no Spark job at all). The index must come
    from the frame it is used with: a stale index can make the cache
    serve groups the frame no longer holds. Otherwise the body runs in
    mapInArrow tasks, one output batch per DECODE_GROUPS surviving
    groups; when the indexes bound the survivors at k groups, the frame
    coalesces to k partitions, so no Python task starts on an empty one.
    With no conjunct (decode_df) nothing is pruned, every group decodes
    whole and the residual is lit(True). FLBA columns come back as binary
    (_spark_schema).

    `filters` is a list of (column, op, value) conjuncts; op ∈ {'>=', '>',
    '<=', '<', '=', 'between' (value=(lo,hi)), 'in' (value=iterable),
    'match' (value=Column → Column predicate)}. Bound-based pruning
    covers numeric and string columns; other types still decode +
    residual-filter correctly. `indexes` optionally maps a column name to
    a built SortedKeyIndex, which turns that column's prune into an
    O(log n)-probed rg_id IN-list. With `auto_index` (default) the index
    is built-and-memoized automatically (sorted_index_for) on persisted
    frames: point conjuncts use it on any layout, range conjuncts when
    the manifest's per-chunk `sorted` flags say the layout is clustered;
    unclustered layouts keep the stats-scan prune."""
    from pyspark.sql import functions as F

    spec_by = {s.name: s for s in specs}
    conj, residual = _conjuncts(spec_by, filters)
    keeps, ids, nbytes = _prune(enc_df, spec_by, conj, indexes, auto_index)

    # the driving conjunct: only bounds the page directory can compare
    # qualify (numeric or str/bytes — a date/Decimal literal against raw
    # numeric page stats would TypeError in the executor). With none,
    # every chunk decodes whole and the residual stays exact.
    def _pageable(op, val):
        vs = [v for v in val if v is not None] if op == "range" else val
        return op != "match" and bool(vs) and all(
            isinstance(v, (str, bytes))
            or (isinstance(v, (int, float)) and not isinstance(v, bool))
            for v in vs)

    drv = next((i for i, (_, op, val) in enumerate(conj)
                if _pageable(op, val)), None)
    # the decode body takes only the driving conjunct's bounds or values,
    # never `conj`: a 'match' predicate may close over unpicklable objects
    drive = None
    if drv is not None:
        dcol, op, dval = conj[drv]
        dj = [s.name for s in specs].index(dcol)
        drive = (dj, drv, dval, _key_prefilter(specs[dj], op, dval))
    # per-value bloom probe hashes (None = can't disprove), computed once
    probes = [(i, [(v, _bloom_probe_hashes(v)) for v in val])
              for i, (_, op, val) in enumerate(conj) if op == "in"]
    # the decode body's input columns → the frame's columns they read
    src = {**{f"{s.name}_blob": f"{s.name}_blob" for s in specs},
           **{f"__bloom{i}": f"{conj[i][0]}_meta.bloom" for i, _ in probes}}
    to_spark = _spark_schema(out_schema)
    schema = from_arrow_schema(to_spark)

    if nbytes is not None and nbytes <= DECODE_BATCH_BYTES:
        rb = _lookup_batch(_driver_input(enc_df, keeps, ids, src), specs,
                           out_schema, probes, drive)
        tbl = (to_spark.empty_table() if rb is None
               else pa.Table.from_batches([rb]))
        return enc_df.sparkSession.createDataFrame(tbl, schema=schema) \
            .where(residual)
    pruned = _where(enc_df, keeps)
    if ids is not None:
        # at most len(ids) groups survive: Python runs for every partition
        # of the decode, empty ones included, so fold them into that many
        pruned = pruned.coalesce(max(1, len(ids)))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl in _task_tables(batches):
            rb = _lookup_batch(tbl, specs, out_schema, probes, drive)
            if rb is not None:
                yield rb

    return pruned.select(*[c if a == c else F.col(c).alias(a)
                           for a, c in src.items()]) \
        .mapInArrow(fn, schema).where(residual)


def get(enc_df, specs: list[ColumnSpec], out_schema: pa.Schema,
        key_column: str, values, index=None, auto_index: bool = True):
    """Point fetch: the full decoded rows for k scattered key values —
    the reference's SkipRows+ReadByNumber analog at its sharpest
    (reader/reader.go:179-253). It is scan() with one
    `key_column IN values` conjunct, so it composes every lookup
    structure the manifest carries: a sorted-index lookup per value (an
    O(log n) binary search → a tiny rg_id IN-list; `index`, or built and
    memoized per DataFrame handle, used even on non-clustered layouts),
    the distinct-set overlap, the per-value bloom confirm inside the
    decode body, page-directory row runs for the surviving values, the
    key column decoded first, and the exact residual `key IN values`.
    Like scan(), an index-bounded get fetches and decodes in the driver
    when it is called."""
    return scan(enc_df, specs, out_schema, [(key_column, "in", values)],
                indexes=None if index is None else {key_column: index},
                auto_index=auto_index)


def from_arrow_schema(schema: pa.Schema):
    """Arrow schema → Spark StructType (pyspark>=4 has a direct helper)."""
    from pyspark.sql.pandas.types import from_arrow_schema as _fas

    return _fas(schema)
