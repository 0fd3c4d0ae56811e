"""In-process (no-Spark) writer/reader over the same chunk format.

The reference is first a LIBRARY — a single process writes and reads its own
files (writer/writer.go:58-225, reader/reader.go:41-379). This module is
that mode for tokenc: a pyarrow Table in, an encoded directory out, and
back. The write cuts row groups with the Spark encoders' accumulator
(engine._encode_batches, the table as one batch), so a table that reaches
encode_df or encode_files as one batch gets the same row groups; the read
uses the decode_chunk/_rebuild kernels of engine._decode_groups and gives
the same rows (tests/test_core.py checks both). Nested columns
(struct/map/array at any depth) go through the same shred decomposition
as the Spark path (shred.py), executed on Arrow arrays directly
(marshal/unmarshal analog, marshal/marshal.go:227-343). Useful for tools,
tests, and small-data callers; the Spark paths (engine.py, files.py) are
the distributed mode.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .engine import (DEFAULT_PAGE_BYTES, DEFAULT_TARGET_RAW_BYTES,
                     _blob_views, _encode_batches, _pa_of_spec, _rebuild,
                     encoded_schema, from_arrow_schema)
from .chunk import decode_chunk
from .schema import ColumnSpec, specs_from_arrow_schema

FLAT_SCHEMA_FILE = "_flat_schema.arrow"
NESTED_SCHEMA_FILE = "_nested_schema.arrow"

def _is_composite(t: pa.DataType) -> bool:
    if pa.types.is_struct(t) or pa.types.is_map(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        vt = t.value_type
        return (pa.types.is_struct(vt) or pa.types.is_map(vt)
                or pa.types.is_list(vt) or pa.types.is_large_list(vt))
    return False


def write_table(table: pa.Table, out_dir: str, *,
                specs: list[ColumnSpec] | None = None,
                codec_overrides: dict[str, str] | None = None,
                compression: dict[str, str] | str | None = None,
                target_raw_bytes: int = DEFAULT_TARGET_RAW_BYTES
                ) -> list[ColumnSpec]:
    """Encode a pyarrow Table into `out_dir` (one parquet of blob rows).

    Composite columns are shredded to flat leaves first (same decomposition
    and flat names as the Spark path); the nested and flat schemas are
    stored beside the blobs so `read_table` can rebuild without arguments.
    Returns the FLAT specs used. codec=None in a returned spec means
    per-chunk auto-selection — actual picks are recorded per blob header.
    """
    os.makedirs(out_dir, exist_ok=True)
    nested_schema = None
    if any(_is_composite(f.type) for f in table.schema):
        from .shred import shred_arrow_columns

        nested_schema = table.schema
        spark_schema = from_arrow_schema(table.schema)
        flat = shred_arrow_columns(table, spark_schema)
        table = pa.table(flat)
        with open(os.path.join(out_dir, NESTED_SCHEMA_FILE), "wb") as f:
            f.write(nested_schema.serialize().to_pybytes())
    if specs is None:
        specs = specs_from_arrow_schema(table.schema, codec_overrides,
                                        compression)
    with open(os.path.join(out_dir, FLAT_SCHEMA_FILE), "wb") as f:
        f.write(table.schema.serialize().to_pybytes())
    rows = []
    # the whole table is ONE batch: it is cut into target-sized slices,
    # each its own row group (the Spark encoders' sizing rule)
    batches = ((b, None) for b in table.combine_chunks().to_batches())
    for rg_idx, (row, _) in enumerate(_encode_batches(
            batches, specs, target_raw_bytes, DEFAULT_PAGE_BYTES, {})):
        row["rg_part"] = 0
        row["rg_idx"] = rg_idx
        rows.append(row)
    enc = pa.Table.from_pylist(rows, schema=encoded_schema(specs))
    pq.write_table(enc, os.path.join(out_dir, "part-00000.parquet"),
                   compression="zstd")
    return specs


def _load_schema(path: str, fname: str) -> pa.Schema | None:
    p = os.path.join(path, fname)
    if not (os.path.isdir(path) and os.path.exists(p)):
        return None
    with open(p, "rb") as f:
        return pa.ipc.read_schema(pa.BufferReader(f.read()))


def read_table(path: str, specs: list[ColumnSpec] | None = None, *,
               columns: list[str] | None = None,
               offset: int = 0, count: int | None = None) -> pa.Table:
    """Decode an encoded dir/file back to a pyarrow Table.

    `specs` may be omitted when the dir carries the stored flat schema.
    `columns` prunes blob columns at the parquet scan (ReadPartial analog) —
    for nested columns only that column's leaves are scanned/decoded;
    `offset`/`count` skip whole row groups on their manifest counts before
    any decode (SkipRows analog, reader/reader.go:179-253).
    """
    nested_schema = _load_schema(path, NESTED_SCHEMA_FILE)
    flat_schema = _load_schema(path, FLAT_SCHEMA_FILE)
    if specs is None:
        if flat_schema is None:
            raise ValueError(f"no stored schema under {path}; pass specs=")
        specs = specs_from_arrow_schema(flat_schema)
    if nested_schema is None:
        out = _read_flat(path, specs, columns, offset, count)
        if flat_schema is None:
            return out
        # back to the stored types (dictionary, large_string, large_list
        # decode as their value types), as the nested path casts below
        stored = {f.name: f for f in flat_schema}
        fields = [stored.get(f.name, f) for f in out.schema]
        return pa.Table.from_arrays(
            [_as_type(c, f.type) for c, f in zip(out.columns, fields)],
            schema=pa.schema(fields))
    from .shred import SEP, flat_prefix, rebuild_arrays
    from pyspark.sql import types as T

    spark_schema = from_arrow_schema(nested_schema)
    want = [f for f in spark_schema.fields
            if columns is None or f.name in columns]
    if columns is not None and len(want) != len(columns):
        missing = set(columns) - {f.name for f in want}
        raise ValueError(f"unknown columns {sorted(missing)}")
    leaf_cols = []
    for f in want:
        pre = flat_prefix(f.name)
        leaf_cols.extend(s.name for s in specs
                         if s.name == pre or s.name.startswith(pre + SEP))
    flat_tbl = _read_flat(path, specs, leaf_cols, offset, count)
    cols = {n: flat_tbl.column(i).combine_chunks()
            for i, n in enumerate(flat_tbl.column_names)}
    sub = T.StructType([T.StructField(f.name, f.dataType, True) for f in want])
    arrs = rebuild_arrays(cols, sub)
    target = [nested_schema.field(f.name) for f in want]
    arrs = [a.cast(t.type) for a, t in zip(arrs, target)]
    return pa.Table.from_arrays(arrs, names=[f.name for f in want])


def _as_type(col: pa.ChunkedArray, t: pa.DataType) -> pa.ChunkedArray:
    """`col` cast to `t`; a dictionary type is re-encoded from the values
    (Arrow casts no plain type to a dictionary)."""
    if pa.types.is_dictionary(t):
        return pc.dictionary_encode(col.cast(t.value_type)).cast(t)
    return col.cast(t)


def verify(path: str) -> list[dict]:
    """In-process bit-rot audit (library-mode twin of
    engine.verify_table): recompute each blob's CRC32 against the
    manifest's stored value without decoding anything. Returns mismatch
    dicts (rg_id, column, stored_crc, actual_crc); empty list ⇔ clean.
    Chunks with no stored crc (pre-checksum files) are skipped."""
    import zlib

    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".parquet")] if os.path.isdir(path) else [path])
    bad = []
    for f in files:
        enc = pq.read_table(f)
        names = [c[:-5] for c in enc.column_names if c.endswith("_blob")]
        rg = enc["rg_id"].to_pylist() if "rg_id" in enc.column_names \
            else [None] * enc.num_rows
        for name in names:
            blobs = enc[f"{name}_blob"]
            stored = enc[f"{name}_meta"].combine_chunks().field("crc32") \
                .to_pylist()
            for i in range(enc.num_rows):
                if stored[i] is None:
                    continue
                actual = zlib.crc32(blobs[i].as_buffer())
                if actual != stored[i]:
                    bad.append({"rg_id": rg[i], "column": name,
                                "stored_crc": stored[i],
                                "actual_crc": actual})
    return bad


def _read_flat(path: str, specs: list[ColumnSpec],
               columns: list[str] | None, offset: int,
               count: int | None) -> pa.Table:
    sel = [s for s in specs if columns is None or s.name in columns]
    if columns is not None and len(sel) != len(columns):
        missing = set(columns) - {s.name for s in sel}
        raise ValueError(f"unknown columns {sorted(missing)}")
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".parquet")] if os.path.isdir(path) else [path])
    cols = ["rg_part", "rg_idx", "n_rows"] + [f"{s.name}_blob" for s in sel]
    enc = pa.concat_tables([pq.read_table(f, columns=cols) for f in files])
    order = np.lexsort((np.asarray(enc["rg_idx"]), np.asarray(enc["rg_part"])))
    n_rows = np.asarray(enc["n_rows"])[order]
    starts = np.zeros(order.size + 1, dtype=np.int64)
    np.cumsum(n_rows, out=starts[1:])
    total = int(starts[-1])
    lo = max(0, offset)
    hi = total if count is None else min(total, offset + count)
    views = [_blob_views(enc, f"{s.name}_blob") for s in sel]
    batches = []
    for pos, i in enumerate(order):
        if starts[pos + 1] <= lo or starts[pos] >= hi:
            continue  # row group skipped without decoding
        arrays = [_rebuild(decode_chunk(v[i]), s) for v, s in zip(views, sel)]
        rb = pa.Table.from_arrays(arrays, names=[s.name for s in sel])
        skip = max(0, lo - int(starts[pos]))
        take = min(int(starts[pos + 1]), hi) - max(int(starts[pos]), lo)
        batches.append(rb.slice(skip, take))
    if not batches:
        return pa.table({s.name: pa.array([], _pa_of_spec(s)) for s in sel})
    return pa.concat_tables(batches)

