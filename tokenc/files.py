"""File-granular encode path: tasks read Parquet data files directly with
pyarrow inside `mapInArrow` — no JVM row materialization anywhere.

Why this exists: Spark's Python boundary converts InternalRows to Arrow one
field at a time. For wide token arrays (512 int32 elements/row) that pivot
costs far more than the encode kernels themselves and saturates a single
box's memory bus near ~250 MB/s regardless of core count (measured; see
BENCH/BASELINE.md). Feeding the encoder from pyarrow file reads keeps the
whole hot path columnar: parquet page → Arrow buffer → numpy view → encoded
blob. Encoded-row OUTPUT still crosses the boundary, but a row group is one
binary value per column — per-row pivot cost, not per-element.

This is the production-shaped path: an Iceberg table of pre-tokenized
sequences IS a set of parquet data files; distributing files (or row-group
splits) to tasks is exactly what Spark's own DataSource does. The reference
reads its own files the same way (reader/reader.go:41-89 footer → column
chunks), it just isn't distributed.

The DataFrame path (`engine.encode_df`) remains the general API for inputs
that only exist as DataFrames (joins, filters, streaming epochs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from ._mem import worker_batches
from .engine import (DECODE_GROUPS, DEFAULT_PAGE_BYTES,
                     DEFAULT_TARGET_RAW_BYTES, INVARIANT_SCHEMA, _blob_views,
                     _decode_groups, _encode_batches, _invariant_rows,
                     _pa_of_spec, _spark_schema, encoded_schema,
                     from_arrow_schema)
from .schema import ColumnSpec

DEFAULT_BATCH_ROWS = 8192
# encoded row groups per pyarrow batch of the invariants path: it reduces
# each batch to tiny rows, so it reads more than DECODE_GROUPS at a time
INVARIANT_GROUPS = 8


def resolve_fs(path: str, filesystem=None):
    """URI/path → (pyarrow FileSystem, fs-relative path).

    Plain paths and file:// map to LocalFileSystem; any other scheme
    (s3://, hdfs://, gcs://, …) resolves through
    `pyarrow.fs.FileSystem.from_uri` — the reference's pluggable
    ParquetFile source matrix (source/source.go:9-26; README
    local/HDFS/S3/GCS). The resolved filesystem object is resolved ONCE on
    the driver and pickled into the task closures (pyarrow filesystems,
    including S3FileSystem with endpoint/credential overrides, survive
    pickling), so executors never re-resolve credentials.
    """
    from pyarrow import fs as pafs

    if filesystem is not None:
        return filesystem, path
    if path.startswith("file://"):
        return pafs.LocalFileSystem(), (path[len("file://"):] or "/")
    if path.startswith("webhdfs://"):
        # hdfs over the public WebHDFS REST gateway (tokenc/webhdfs.py) —
        # no libhdfs needed; webhdfs://host:port/a/b → endpoint host:port,
        # fs-relative path a/b. `user.name` rides as user@ if present.
        from .webhdfs import webhdfs_fs

        rest = path[len("webhdfs://"):]
        auth, _, rel = rest.partition("/")
        user, _, endpoint = auth.rpartition("@")
        return webhdfs_fs(endpoint, user or None), rel
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _list_fs(path: str | list[str], filesystem=None, suffix=".parquet"):
    """→ (filesystem, sorted fs-relative data-file paths with `suffix`)."""
    from pyarrow import fs as pafs

    if isinstance(path, (list, tuple)):
        if not path:
            return filesystem or pafs.LocalFileSystem(), []
        fs, first = resolve_fs(path[0], filesystem)
        rest = [resolve_fs(p, filesystem)[1] if filesystem is None else p
                for p in path[1:]]
        return fs, [first] + rest
    fs, p = resolve_fs(path, filesystem)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.File:
        return fs, [p]
    if info.type == pafs.FileType.NotFound:
        return fs, []
    sel = pafs.FileSelector(p, recursive=True)
    return fs, sorted(i.path for i in fs.get_file_info(sel)
                      if i.type == pafs.FileType.File
                      and i.path.endswith(suffix))


def list_parquet_files(path: str, filesystem=None) -> list[str]:
    """Deterministic (sorted) data-file listing — the 'manifest read'.
    Accepts plain paths, file:// URIs, and any pyarrow-resolvable remote
    scheme (fs-relative paths are returned for those; pair with the
    filesystem from `resolve_fs`)."""
    return _list_fs(path, filesystem)[1]


def _file_field_ids(aschema: pa.Schema) -> dict:
    """field id → column name from the file's PARQUET:field_id metadata
    (files written by Iceberg writers carry it; ours may not — then the
    name-mapping candidates decide)."""
    out = {}
    for f in aschema:
        v = (f.metadata or {}).get(b"PARQUET:field_id")
        if v is not None:
            try:
                out[int(v)] = f.name
            except ValueError:
                pass
    return out


def _resolve_read(aschema: pa.Schema, wanted: list[str],
                  column_resolution: dict | None) -> dict:
    """Current-schema column name → this FILE's column name (or None when
    the file predates the column): parquet field id first, then the
    name-mapping candidates, then the bare name (no-resolution legacy)."""
    present = set(aschema.names)
    fid2name = _file_field_ids(aschema) if column_resolution else {}
    out = {}
    for w in wanted:
        res = (column_resolution or {}).get(w)
        if res is None:
            out[w] = w
            continue
        fn = fid2name.get(res["field_id"])
        if fn is None and not fid2name:
            # Iceberg column-projection rule: name mapping applies only
            # to files WITHOUT field ids (imported/legacy). A file that
            # carries ids but lacks this one predates the column — read
            # it as null, never by name (a dropped-then-re-added column
            # would otherwise resurrect the OLD column's values)
            fn = next((c for c in res["names"] if c in present), None)
        out[w] = fn
    return out
    # (with column_resolution None the bare name passes through even when
    # absent — pyarrow then raises loudly, the pre-evolution behavior)


def _load_eq_tables(fs, equality_deletes, unit_seq: int, cache: dict):
    """Equality-delete tables applicable to a data file of sequence number
    `unit_seq` (strictly-less rule), columns renamed to CURRENT schema
    names and deduped. Delete parquets are small (a list of key values);
    cached per task."""
    import pyarrow.parquet as pq

    out = []
    for d in equality_deletes:
        if d["seq"] <= unit_seq:
            continue  # applies only to STRICTLY older data files
        if d["path"] not in cache:
            t = pq.read_table(d["path"], filesystem=fs)
            arrays = []
            for cur, cands in zip(d["cols"], d["cands"]):
                fn = next((c for c in cands if c in t.column_names), None)
                if fn is None:
                    raise ValueError(f"equality-delete file {d['path']} "
                                     f"has no column for {cur!r} "
                                     f"(candidates {cands})")
                arrays.append(t[fn])
            tt = pa.Table.from_arrays(arrays, names=list(d["cols"]))
            cache[d["path"]] = tt.group_by(list(d["cols"])).aggregate([])
        out.append(cache[d["path"]])
    return out


def _null_fill_pair(arr):
    """(null-filled array, is-null flags) — the null-safe join key pair.
    pa.Table.join never matches null keys, but the Iceberg spec's
    equality-delete comparison treats null as EQUAL to null; joining on
    (filled value, null flag) gives exactly that."""
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        z = ""
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        z = b""
    elif pa.types.is_boolean(t):
        z = False
    else:
        z = pa.scalar(0, type=t)  # numeric / temporal / decimal zero
    return pc.fill_null(arr, z), pc.is_null(arr)


def _eq_keep_mask(rb: pa.RecordBatch, eq_tables) -> "object":
    """Boolean keep-mask over `rb` (columns already in current-schema
    names): a row is dropped when ANY applicable equality-delete table
    contains its key, null keys matching null (the spec's equality —
    Java's StructLikeSet is null-safe). Vectorized: pc.is_in (whose
    default null_matching already matches null→null) for single-column
    keys; for composite keys an index-tagged inner join on null-safe
    (filled value, null flag) pairs (order untouched — the join output
    only marks indexes)."""
    import numpy as np
    import pyarrow.compute as pc

    keep = np.ones(rb.num_rows, dtype=bool)
    for dt in eq_tables:
        cols = dt.column_names
        if len(cols) == 1:
            m = pc.is_in(rb.column(rb.schema.names.index(cols[0])),
                         value_set=dt[cols[0]].combine_chunks())
            keep &= ~m.fill_null(False).to_numpy(zero_copy_only=False)
        else:
            b_cols, d_cols = {}, {}
            for c in cols:
                fv, nf = _null_fill_pair(
                    rb.column(rb.schema.names.index(c)))
                b_cols[c] = fv
                b_cols[c + "\x00n"] = nf
                fv, nf = _null_fill_pair(dt[c].combine_chunks())
                d_cols[c] = fv
                d_cols[c + "\x00n"] = nf
            bt = pa.table({
                **b_cols,
                "__idx": pa.array(np.arange(rb.num_rows, dtype=np.int64))})
            j = bt.join(pa.table(d_cols), keys=list(d_cols),
                        join_type="inner")
            if j.num_rows:
                keep[j["__idx"].to_numpy()] = False
    return keep


def _load_delete_positions(path: str, fs, delete_files, key: str = ""):
    """Sorted row positions deleted from `path`, merged across the
    snapshot's position-delete parquet files. Runs inside the task: each
    delete file is read WITH a file_path filter (parquet row-group/page
    pruning applies), so a task touches only its own file's delete rows —
    the merge-on-read join, distributed. `key` is the manifest's verbatim
    file_path URI (delete rows are written with it — a moved/re-rooted
    table must still match)."""
    import numpy as np
    import pyarrow.parquet as pq

    keys = list(dict.fromkeys([path, "file://" + path] + ([key] if key
                                                          else [])))
    parts = []
    for dp in delete_files:
        t = pq.read_table(dp, filesystem=fs, columns=["pos"],
                          filters=[("file_path", "in", keys)])
        if t.num_rows:
            parts.append(t.column("pos").to_numpy())
    if not parts:
        return None
    return np.unique(np.concatenate(parts))


def _read_data_file(pf, rgs: range, fill: dict,
                    column_resolution: dict | None, fs, path: str, key: str,
                    seq: int, delete_files, equality_deletes, eq_cache: dict):
    """The merge-on-read read of one data file: row groups `rgs` of the
    open ParquetFile `pf` → (batch, keep) per parquet batch, the batch
    holding the CURRENT-schema columns `fill` in its order and keep None or
    the boolean mask of rows the file's deletes leave. `fill` maps each
    column to its current Arrow type: the nulls it reads as when the file
    predates it, and the type a file storing it otherwise is cast to
    (None: not fillable, read as stored). Columns resolve through
    `_resolve_read`; position deletes (`delete_files`, matched on `path`
    and the manifest `key`) and the equality deletes that apply to
    sequence number `seq` load here, equality tables cached per task in
    `eq_cache`. With no
    deletes, no column remap and no type cast the batches stream straight
    from parquet. The scan encode and compaction both read data files
    through this."""
    import numpy as np

    cols = list(fill)
    dels = (_load_delete_positions(path, fs, delete_files, key)
            if delete_files else None)
    eq_tables = (_load_eq_tables(fs, equality_deletes, seq, eq_cache)
                 if equality_deletes else [])
    eq_cols = list(dict.fromkeys(c for t in eq_tables for c in t.column_names))
    read_map = _resolve_read(pf.schema_arrow,
                             cols + [c for c in eq_cols if c not in fill],
                             column_resolution)
    # an equality column this file predates reads all-null here; spec
    # equality matches null TO null, so the table still applies through
    # delete rows whose key is null in every missing column — droppable
    # only when some missing column has no null keys at all (then nothing
    # can match)
    eq_tables = [t for t in eq_tables
                 if all(read_map[c] is not None or t[c].null_count > 0
                        for c in t.column_names)]
    types = {c: t.schema.field(c).type
             for t in eq_tables for c in t.column_names}
    types.update(fill)
    wanted = cols + [c for c in types if c not in fill]
    # a file may store a column at another Arrow type than the current
    # schema's (an int32 file and an int64 file under one `int` column):
    # those columns cast, safely — a value that does not fit raises
    file_type = {f.name: f.type for f in pf.schema_arrow}
    recast = {w for w in cols if read_map[w] is not None
              and fill[w] is not None
              and not file_type[read_map[w]].equals(fill[w])}
    remap = (bool(eq_tables) or wanted != cols or bool(recast)
             or any(read_map[w] != w for w in cols))
    read_cols = (cols if not remap else list(dict.fromkeys(
        v for w in wanted if (v := read_map[w]) is not None)))
    if remap and not read_cols:
        # every wanted column postdates this file: read one physical
        # column purely to carry the row count
        read_cols = [pf.schema_arrow.names[0]]

    def remap_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
        arrays = []
        for w in wanted:
            fn = read_map[w]
            if fn is None and types[w] is None:
                raise NotImplementedError(f"cannot null-fill column {w!r} "
                                          f"missing from {path}")
            if fn is None:
                arrays.append(pa.nulls(rb.num_rows, types[w]))
                continue
            col = rb.column(rb.schema.names.index(fn))
            arrays.append(col.cast(types[w]) if w in recast else col)
        return pa.RecordBatch.from_arrays(arrays, names=wanted)

    file_pos = sum(pf.metadata.row_group(g).num_rows  # pre-delete cursor
                   for g in range(rgs.start))
    for rb in pf.iter_batches(batch_size=DEFAULT_BATCH_ROWS,
                              row_groups=rgs, columns=read_cols):
        n = rb.num_rows
        keep = None
        if dels is not None:
            hit = dels[np.searchsorted(dels, file_pos):
                       np.searchsorted(dels, file_pos + n)]
            if len(hit):
                keep = np.ones(n, dtype=bool)
                keep[hit - file_pos] = False
        file_pos += n
        if remap:
            rb = remap_batch(rb)
            if eq_tables:
                eq_keep = _eq_keep_mask(rb, eq_tables)
                keep = eq_keep if keep is None else keep & eq_keep
            if wanted != cols:
                rb = rb.select(cols)
        yield rb, (None if keep is None or keep.all() else keep)


def _unit_tasks(spark, units: list, n_tasks: int | None = None):
    """Work units → (task DataFrame, task_units). The DataFrame is
    `spark.range(0, n, 1, n)`: one row per partition, partition k holding
    id k. `task_units(batches)`, run inside the task, yields task k's
    contiguous, count-balanced slice units[k*len//n:(k+1)*len//n] from the
    list captured in the closure — the unit list never crosses into the
    JVM and no shuffle spreads it.

    The default n is one wave, min(len(units), defaultParallelism): every
    Python task pays pyspark's worker preamble and mapInArrow runs Python
    even on an empty partition, so a second wave or a round-robin
    repartition costs more than it balances. Units balance by count, not
    bytes; an explicit `n_tasks` (clamped to len(units)) overrides.

    The preamble's `importlib.invalidate_caches()` re-reads the directory
    of every zip importer a reused worker holds: 16 zip/jar directories,
    ~130 ms of CPU per task (103-193 ms, 4 vCPUs). `task_units` drops them
    when the task ends (`_mem.worker_batches`), so the next task on the
    same worker re-reads none."""
    n = max(1, min(len(units),
                   n_tasks or spark.sparkContext.defaultParallelism))

    def task_units(batches: Iterator[pa.RecordBatch]):
        for b in worker_batches(batches):
            for k in b.column(0).to_pylist():
                yield from units[k * len(units) // n:
                                 (k + 1) * len(units) // n]

    return spark.range(0, n, 1, n), task_units


def encode_files(spark, src_path: str | list[str], specs: list[ColumnSpec], *,
                 target_raw_bytes: int = DEFAULT_TARGET_RAW_BYTES,
                 tasks_per_file: int = 1,
                 n_tasks: int | None = None,
                 filesystem=None,
                 delete_files: list[str] | None = None,
                 equality_deletes: list[dict] | None = None,
                 file_seqs: list[int] | None = None,
                 file_keys: list[str] | None = None,
                 column_resolution: dict | None = None):
    """Encode the parquet files under `src_path` → encoded row-group DF.

    Each task owns an ordered slice of (file, row-group-range): rg_part is
    the global file index and rg_idx is the flush's STARTING ROW OFFSET
    within the file, so (rg_part, rg_idx) orders rows by exact file position
    for read_range even when a parquet row group spans multiple flushes or
    `tasks_per_file` splits one file across tasks. Splits own CONTIGUOUS
    parquet row-group ranges (balance without a shuffle, order preserved).

    `delete_files` are Iceberg-style position-delete parquet paths
    (file_path, pos): each task masks its own file's deleted row positions
    before encoding (rg_idx stays the PRE-delete file offset — still a
    total order).

    `equality_deletes` are Iceberg v2 equality-delete descriptors
    ({path, seq, cols, cands}, from tokenc.iceberg.encode_iceberg): each
    task anti-matches its rows against the delete tables whose sequence
    number exceeds the file's (`file_seqs`, aligned with the resolved file
    list) — the merge-on-read anti-join, distributed, vectorized
    (pc.is_in / index-tagged join), no driver-side row data.

    `column_resolution` ({current_name: {field_id, names}}, from
    tokenc.iceberg.read_resolution) resolves each file's columns across
    schema evolution: parquet field ids first, then name-mapping
    candidates; a column absent from a file reads as typed nulls. Without
    it, columns resolve by bare name exactly as before.
    """
    fs, files = _list_fs(src_path, filesystem)
    if not files:
        raise ValueError(f"no parquet files under {src_path}")
    if file_seqs is not None and len(file_seqs) != len(files):
        raise ValueError("file_seqs must align 1:1 with the resolved files")
    if file_keys is not None and len(file_keys) != len(files):
        raise ValueError("file_keys must align 1:1 with the resolved files")
    fill = {s.name: _pa_of_spec(s) for s in specs}
    out_schema = encoded_schema(specs)

    units = []  # (file_idx, path, split_idx, n_splits, seq, key)
    for i, p in enumerate(files):
        seq = int(file_seqs[i]) if file_seqs is not None else 0
        key = file_keys[i] if file_keys is not None else ""
        for s in range(tasks_per_file):
            units.append((i, p, s, tasks_per_file, seq, key))
    # rg_part/rg_idx derive from the UNIT, so output ordering is
    # task-layout-free
    tasks, task_units = _unit_tasks(spark, units, n_tasks)

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from .selector import WORKER_MEMO as sel_cache  # per-WORKER memo
        eq_cache: dict = {}  # delete parquet path → deduped current-name table
        for file_idx, path, k, m, seq, key in task_units(batches):
            pf = pq.ParquetFile(path, filesystem=fs)
            n_rg = pf.metadata.num_row_groups
            # contiguous balanced range of parquet row groups per split
            rgs = range((k * n_rg) // m, ((k + 1) * n_rg) // m)
            if not rgs:
                continue
            row_off = sum(pf.metadata.row_group(g).num_rows
                          for g in range(rgs.start))
            source = _read_data_file(
                pf, rgs, fill, column_resolution, fs, path, key, seq,
                delete_files, equality_deletes, eq_cache)
            # rg_idx = absolute starting row offset of the group in the
            # file: a total file-position order no matter how parquet
            # row groups and group boundaries interleave. With deletes
            # it stays the PRE-delete offset (offsets remain strictly
            # increasing, which is all the ordering contract needs).
            for row, start in _encode_batches(
                    source, specs, target_raw_bytes, DEFAULT_PAGE_BYTES,
                    sel_cache):
                if row_off + start > 0x7FFFFFFF:
                    raise ValueError("file exceeds 2^31 rows; rg_idx overflow")
                row["rg_part"] = file_idx
                row["rg_idx"] = row_off + start
                yield pa.RecordBatch.from_pylist([row], schema=out_schema)

    return tasks.mapInArrow(encode_fn, from_arrow_schema(out_schema))


def _files_tasks(spark, enc_path: str | list[str], n_tasks: int | None,
                 filesystem):
    """Blob file list → (filesystem, task DataFrame, task_units): the
    _unit_tasks layout over encoded files, each task streaming its own
    contiguous file subset."""
    fs, files = _list_fs(enc_path, filesystem)
    if not files:
        raise ValueError(f"no parquet files under {enc_path}")
    return (fs, *_unit_tasks(spark, files, n_tasks))


def decode_files(spark, enc_path: str | list[str], specs: list[ColumnSpec],
                 out_schema, *, n_tasks: int | None = None,
                 filesystem=None):
    """File-granular decode: tasks read the encoded blob parquet directly
    with pyarrow — the read mirror of `encode_files`. The JVM never scans
    or ships the blob bytes; only the DECODED rows cross the Python→JVM
    boundary (unavoidable when the result must be a DataFrame of rows).
    Each task yields one batch per DECODE_GROUPS row groups.
    """
    blob_cols = [f"{s.name}_blob" for s in specs]
    fs, tasks, task_units = _files_tasks(spark, enc_path, n_tasks,
                                         filesystem)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for path in task_units(batches):
            pf = pq.ParquetFile(path, filesystem=fs)
            for rb in pf.iter_batches(batch_size=DECODE_GROUPS,
                                      columns=blob_cols):
                tbl = pa.Table.from_batches([rb])
                views = [_blob_views(tbl, c) for c in blob_cols]
                out = _decode_groups(views, specs, out_schema,
                                     range(tbl.num_rows))
                if out is not None:
                    yield out

    return tasks.mapInArrow(fn, from_arrow_schema(_spark_schema(out_schema)))


def decode_invariants_files(spark, enc_path: str | list[str],
                            specs: list[ColumnSpec], *,
                            n_tasks: int | None = None, filesystem=None):
    """Decode every chunk inside tasks reading the blob parquet with
    pyarrow, and reduce it to order-insensitive per-row-group invariants
    (row count, value count, numeric value sum, raw byte sum of string
    columns): one tiny row per column per row group is all that crosses
    ANY process boundary. Comparing them against the same aggregates of
    the source checks decode at any scale (the bit-exact per-row gate is
    pytest's, at small scale). This is the headline decode path — like
    encode_files it keeps the whole hot loop columnar (parquet page →
    Arrow buffer → numpy view → decode kernels) with zero JVM involvement
    beyond task scheduling."""
    blob_cols = [f"{s.name}_blob" for s in specs]
    fs, tasks, task_units = _files_tasks(spark, enc_path, n_tasks,
                                         filesystem)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for path in task_units(batches):
            pf = pq.ParquetFile(path, filesystem=fs)
            rows = []
            for rb in pf.iter_batches(batch_size=INVARIANT_GROUPS,
                                      columns=blob_cols):
                tbl = pa.Table.from_batches([rb])
                views = [_blob_views(tbl, c) for c in blob_cols]
                rows.extend(_invariant_rows(views, specs))
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=INVARIANT_SCHEMA)

    return tasks.mapInArrow(fn, from_arrow_schema(INVARIANT_SCHEMA))
