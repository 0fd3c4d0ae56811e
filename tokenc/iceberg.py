"""Apache Iceberg table front door — metadata walk + scan planning, from
the public Iceberg table-spec (no external libraries; manifests decode via
tokenc.avro, a from-scratch Avro OCF codec).

The north-star input is "an Iceberg table of pre-tokenized training
sequences": an Iceberg table IS a parquet file set plus a metadata tree
(version-hint → vN.metadata.json → snapshot → manifest-list.avro →
manifest.avro → data files). `plan_files` walks that tree exactly the way
an engine's scan planner does — driver-side, metadata-only, a few KB per
manifest — and yields the parquet data-file paths that
`tokenc.files.encode_files` distributes to tasks. Snapshot selection gives
reproducible reads (encode the same snapshot twice → identical input), the
engine-side analog of the reference opening a fixed file set
(reader/reader.go:41-89).

Scan-time pruning (the move that matters at 10^12 sequences): manifests
carry per-file column `lower_bounds`/`upper_bounds`/null counts (Iceberg
single-value serialization) and identity-partition values, and the
manifest LIST carries per-partition-field summaries — so `plan_files`
with a `row_filter` first drops whole manifests from the list's
summaries, then drops data files from their bounds, before a single data
byte is read. This is the metadata analog of the engine's own row-group
pruning (tokenc.engine.prune; reference footer stats,
writer/writer.go:418-481, reader/columnbuffer.go:158-230).

`build_table` materializes a spec-v2 table (metadata JSON with a real
field-id schema + manifest-list + manifest Avro, bounds computed from the
parquet footers, optional identity partition spec) over existing parquet
files: the test fixture generator, and a way to publish an encoded output
directory as an Iceberg-readable table (commit = atomic metadata-version
bump — the same last-writer-wins manifest commit tokenc.manifest uses).
"""

from __future__ import annotations

import json
import os
import re
import struct
from dataclasses import dataclass, field
from decimal import ROUND_CEILING, ROUND_FLOOR

from .avro import read_ocf, write_ocf
from .files import resolve_fs


@dataclass(frozen=True)
class DataFile:
    path: str
    file_format: str
    record_count: int
    file_size_in_bytes: int
    partition: dict = field(default_factory=dict)
    lower_bounds: dict = field(default_factory=dict)   # field-id → bytes
    upper_bounds: dict = field(default_factory=dict)
    null_counts: dict = field(default_factory=dict)    # field-id → int
    content: int = 0            # 0 data, 1 position deletes, 2 equality
    equality_ids: tuple = ()    # field ids compared by equality deletes
    sequence_number: int = 0    # data sequence number (v2 ordering)
    raw_path: str = ""          # manifest's verbatim file_path URI — the
    # key position-delete rows were written with (path re-rooting on a
    # moved/republished table must NOT break the file_path match)


def _strip_scheme(p: str) -> str:
    return p[len("file://"):] if p.startswith("file://") else p


def _read_file(fs, path: str) -> bytes:
    with fs.open_input_stream(path) as f:
        return f.read()


# --------------------------------------------------------------------------
# Iceberg single-value serialization (table-spec "Binary single-value
# serialization": bounds in manifests are little-endian fixed-width ints /
# IEEE floats, UTF-8 strings, raw bytes)
# --------------------------------------------------------------------------

_EPOCH_DAY = None  # lazy date(1970,1,1)


def _decimal_scale(ice_type: str) -> int:
    # "decimal(P, S)" / "decimal(P,S)"
    return int(ice_type[ice_type.rindex(",") + 1:ice_type.rindex(")")])


def ser_value(v, ice_type: str, rounding: str) -> bytes:
    """Iceberg single-value serialization. `rounding` (a decimal module
    rounding mode) applies when a decimal carries more fractional digits
    than its scale: lower bounds pass ROUND_FLOOR and upper bounds
    ROUND_CEILING, so a rounded bound still covers the value. It has no
    default, so no bound can be written in an unsound direction."""
    if ice_type == "int" or ice_type == "date":
        return struct.pack("<i", int(v))
    if ice_type == "long" or ice_type.startswith("timestamp"):
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", v)
    if ice_type == "double":
        return struct.pack("<d", v)
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "string":
        return v.encode("utf-8")
    if ice_type == "binary" or ice_type == "uuid" \
            or ice_type.startswith("fixed"):
        return bytes(v)
    if ice_type.startswith("decimal"):
        # spec: unscaled value, two's-complement BIG-endian, minimum bytes
        from decimal import Decimal

        unscaled = int(Decimal(v).scaleb(_decimal_scale(ice_type))
                       .to_integral_value(rounding))
        n = max(1, (unscaled.bit_length() + 8) // 8)  # +sign bit headroom
        return unscaled.to_bytes(n, "big", signed=True)
    raise ValueError(f"no single-value serialization for {ice_type!r}")


def deser_value(b: bytes, ice_type: str):
    # int/long and float/double accept BOTH widths: Iceberg type promotion
    # (int→long, float→double) is metadata-only, so old data files keep
    # 4-byte bounds under the promoted schema type
    if ice_type == "int" or ice_type == "date":
        return struct.unpack("<i", b)[0]
    if ice_type == "long" or ice_type.startswith("timestamp"):
        return struct.unpack("<q" if len(b) == 8 else "<i", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d" if len(b) == 8 else "<f", b)[0]
    if ice_type == "boolean":
        return b == b"\x01"
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "binary" or ice_type == "uuid" \
            or ice_type.startswith("fixed"):
        return bytes(b)
    if ice_type.startswith("decimal"):
        from decimal import Decimal

        unscaled = int.from_bytes(b, "big", signed=True)
        return Decimal(unscaled).scaleb(-_decimal_scale(ice_type))
    raise ValueError(f"no single-value serialization for {ice_type!r}")


def deser_bound(b: bytes | None, ice_type: str):
    """Bound deserialization for scan planning: NEVER raises — a bound an
    old writer serialized in a way this reader can't parse (exotic type,
    corrupt width) degrades to None = unbounded, which only costs a kept
    file, never a wrongly pruned one."""
    if b is None:
        return None
    try:
        return deser_value(b, ice_type)
    except Exception:
        return None


def _trunc_lower(s, n: int = 16):
    """Truncate a lower bound: a prefix sorts ≤ every string it prefixes,
    so plain truncation stays a valid lower bound (spec: truncate(16))."""
    return s[:n]


def _trunc_upper(s, n: int = 16):
    """Truncate an upper bound: must INCREMENT the last unit so the result
    sorts ≥ the full value; None if impossible (all-max prefix)."""
    if len(s) <= n:
        return s
    if isinstance(s, bytes):
        b = bytearray(s[:n])
        for i in reversed(range(len(b))):
            if b[i] != 0xFF:
                b[i] += 1
                return bytes(b[:i + 1])
        return None
    cut = list(s[:n])
    for i in reversed(range(len(cut))):
        cp = ord(cut[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                # incrementing into the surrogate block would produce an
                # unencodable lone surrogate (ser_value utf-8 crash);
                # skip to the first codepoint after it — still ≥ any
                # string starting with the original prefix (Java
                # UnicodeUtil does the same)
                nxt = 0xE000
            return "".join(cut[:i]) + chr(nxt)
    return None


# --------------------------------------------------------------------------
# schema: arrow → iceberg field-id schema
# --------------------------------------------------------------------------

def _ice_schema_from_arrow(aschema) -> tuple[list, int]:
    """Arrow schema → Iceberg schema fields with sequential field-ids
    (top-level fields first, then nested ids — the same breadth-first
    assignment the Java library uses for fresh schemas)."""
    import pyarrow as pa

    next_id = [0]

    def nid():
        next_id[0] += 1
        return next_id[0]

    def conv(t):
        if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
            return "int"
        if pa.types.is_int64(t):
            return "long"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t) \
                or pa.types.is_fixed_size_binary(t):
            return "binary"
        if pa.types.is_date32(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamptz" if t.tz else "timestamp"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision}, {t.scale})"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return {"type": "list", "element-id": nid(),
                    "element": conv(t.value_type), "element-required": False}
        if pa.types.is_struct(t):
            return {"type": "struct",
                    "fields": [{"id": nid(), "name": f.name,
                                "required": False, "type": conv(f.type)}
                               for f in t]}
        if pa.types.is_map(t):
            return {"type": "map", "key-id": nid(), "key": conv(t.key_type),
                    "value-id": nid(), "value": conv(t.item_type),
                    "value-required": False}
        raise ValueError(f"unsupported arrow type for iceberg schema: {t}")

    fields = []
    for f in aschema:
        fields.append({"id": nid(), "name": f.name, "required": False,
                       "type": conv(f.type)})
    # nested ids assigned inline above (depth-first) — ids only need to be
    # unique + stable within the metadata file for our planner
    return fields, next_id[0]


def _top_level_prims(schema_fields: list) -> dict:
    """name → (field-id, iceberg primitive type) for stats-eligible cols."""
    return {f["name"]: (f["id"], f["type"]) for f in schema_fields
            if isinstance(f["type"], str)}


def table_metadata(table_dir: str, filesystem=None) -> dict:
    """Resolve the CURRENT metadata JSON: version-hint.text if present,
    else the highest vN.metadata.json, else the lexicographically last
    *.metadata.json (uuid-named metadata from object-store layouts)."""
    from pyarrow import fs as pafs

    fs, root = resolve_fs(table_dir, filesystem)
    meta_dir = root.rstrip("/") + "/metadata"
    hint = meta_dir + "/version-hint.text"
    if fs.get_file_info(hint).type == pafs.FileType.File:
        v = int(_read_file(fs, hint).decode().strip())
        return json.loads(_read_file(fs, f"{meta_dir}/v{v}.metadata.json"))
    infos = fs.get_file_info(pafs.FileSelector(meta_dir))
    cands = [i.path for i in infos if i.path.endswith(".metadata.json")]
    if not cands:
        raise FileNotFoundError(f"no metadata json under {meta_dir}")
    versioned = [(int(m.group(1)), p) for p in cands
                 if (m := re.search(r"/v(\d+)\.metadata\.json$", p))]
    pick = max(versioned)[1] if versioned else sorted(cands)[-1]
    return json.loads(_read_file(fs, pick))


def _snapshot(meta: dict, snapshot_id: int | None,
              as_of_ms: int | None = None):
    snaps = meta.get("snapshots", [])
    if snapshot_id is None and as_of_ms is not None:
        # timestamp time travel: last snapshot-log entry at or before the
        # timestamp (the spec's snapshot-log lookup)
        log = [e for e in meta.get("snapshot-log", [])
               if e["timestamp-ms"] <= as_of_ms]
        if not log:
            raise ValueError(f"no snapshot as of timestamp {as_of_ms}")
        snapshot_id = max(log, key=lambda e: e["timestamp-ms"])["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return None  # empty table: no snapshot yet
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not in table metadata")


def _resolve(meta_location: str, path: str, table_dir: str) -> str:
    """Metadata stores absolute URIs under the table's own location;
    re-root them onto table_dir so a moved/copied table still resolves
    (pyiceberg does the same location-relative rewrite)."""
    p = _strip_scheme(path)
    loc = _strip_scheme(meta_location).rstrip("/")
    if loc and p.startswith(loc + "/"):
        return table_dir.rstrip("/") + p[len(loc):]
    return p


# --------------------------------------------------------------------------
# predicate pruning: maybe-match evaluation against bounds
# --------------------------------------------------------------------------
# row_filter expression grammar (tuples):
#   ("and", e1, e2, ...)   ("or", e1, e2, ...)
#   ("eq"|"ne"|"lt"|"le"|"gt"|"ge", column, literal)
#   ("in", column, [literals])
#   ("is_null", column)    ("not_null", column)
# Evaluation answers "may this FILE contain a matching row?" — False only
# when the bounds PROVE no row can match; missing stats → True (keep).

@dataclass(frozen=True)
class _Bounds:
    lo: object = None          # deserialized lower bound (None = unknown)
    hi: object = None
    may_null: bool = True      # False only when null_count == 0 is known
    all_null: bool = False     # True when null_count == record_count


def _may_match(expr, bounds: dict, buckets: dict | None = None) -> bool:
    op = expr[0]
    if op == "and":
        return all(_may_match(e, bounds, buckets) for e in expr[1:])
    if op == "or":
        return any(_may_match(e, bounds, buckets) for e in expr[1:])
    if op == "in":
        return any(_may_match(("eq", expr[1], v), bounds, buckets)
                   for v in expr[2])
    col = expr[1]
    if op == "eq" and buckets and col in buckets:
        # bucket-partition refutation: the literal's hash bucket must fall
        # in the file's/manifest's bucket range (exact for a single file)
        n, blo, bhi, typ = buckets[col]
        if not (blo <= bucket_value(expr[2], typ, n) <= bhi):
            return False
    b = bounds.get(col)
    if b is None:
        return True  # unconstrained column
    if op == "is_null":
        return b.may_null
    if op == "not_null":
        return not b.all_null
    if b.all_null:
        return False  # every value null → no comparison can match
    lit = expr[2]
    lo, hi = b.lo, b.hi
    if op == "eq":
        return (lo is None or lo <= lit) and (hi is None or lit <= hi)
    if op == "ne":  # only refutable when the file is constant == lit
        return not (lo is not None and lo == hi == lit)
    if op == "lt":
        return lo is None or lo < lit
    if op == "le":
        return lo is None or lo <= lit
    if op == "gt":
        return hi is None or hi > lit
    if op == "ge":
        return hi is None or hi >= lit
    raise ValueError(f"unknown predicate op {op!r}")


def _filter_columns(expr, out: set) -> set:
    op = expr[0]
    if op in ("and", "or"):
        for e in expr[1:]:
            _filter_columns(e, out)
    else:
        out.add(expr[1])
    return out


# --------------------------------------------------------------------------
# partition transforms (table-spec "Partition Transforms"): identity,
# bucket[N] — 32-bit murmur3 (x86 variant, seed 0) of the spec's hash
# representation (int/long/date as 8-byte little-endian long, string as
# UTF-8 bytes), masked positive, mod N — and truncate[W] (int: floor to
# width; string: prefix). Appendix-B golden hashes pinned in tests.
# --------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Public murmurhash3_x86_32, returned as uint32."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(v, ice_type: str, n: int) -> int:
    """Spec bucket[N]: (murmur3_32(hash-repr) & Integer.MAX_VALUE) % N.
    int/long/date share the 8-byte little-endian long representation (the
    spec's rule that widening promotions keep the bucket stable)."""
    if ice_type in ("int", "long", "date"):
        b = struct.pack("<q", int(v))
    elif ice_type == "string":
        b = v.encode("utf-8")
    elif ice_type == "binary":
        b = bytes(v)
    else:
        raise ValueError(f"bucket transform unsupported for {ice_type!r}")
    return (murmur3_32(b) & 0x7FFFFFFF) % n


def _parse_transform(t: str):
    """'identity' / 'bucket[8]' / 'bucket(8)' / 'truncate[4]' →
    (kind, param); (None, None) for transforms we can't prune with
    (void, temporal projections — sound to ignore)."""
    if t == "identity":
        return "identity", None
    m = re.fullmatch(r"(bucket|truncate)[\[(](\d+)[\])]", t)
    if m:
        return m.group(1), int(m.group(2))
    return None, None


def _truncate_value(v, w: int, ice_type: str):
    if ice_type in ("int", "long", "date"):
        return int(v) - (int(v) % w)  # python % floors: spec-exact for <0
    if ice_type == "string":
        return v[:w]
    raise ValueError(f"truncate transform unsupported for {ice_type!r}")


def _prefix_upper(s: str):
    """Smallest string ≥ every string with prefix `s` (increment the last
    incrementable codepoint); None when impossible (all-max prefix)."""
    cut = list(s)
    for i in reversed(range(len(cut))):
        cp = ord(cut[i])
        if cp < 0x10FFFF:
            return "".join(cut[:i]) + chr(cp + 1)
    return None


def _truncate_range(tv, w: int, ice_type: str):
    """Truncated partition value → (lo, hi) bounds covering every source
    value that truncates to it."""
    if ice_type in ("int", "long", "date"):
        return tv, tv + w - 1
    return tv, _prefix_upper(tv)  # string: [prefix, prefix⁺)


def _spec_pfields(meta: dict, schema: dict | None, name2ft: dict,
                  nm: dict) -> list[dict]:
    """Parsed partition-spec fields usable for pruning: current source
    column name (renames resolve through the schema by source-id),
    transform kind/param, candidate partition-record keys (the spec field
    name plus the column's historical names for identity specs written
    under old names), and the source iceberg type."""
    spec_id = meta.get("default-spec-id", 0)
    spec = next((p for p in meta.get("partition-specs", [])
                 if p.get("spec-id") == spec_id), {"fields": []})
    id2cur = {f["id"]: f["name"] for f in (schema or {}).get("fields", [])}
    # POSITIONAL list, one entry per spec field: manifest-list partition
    # summaries are strictly positional per spec field, so an unprunable
    # field (void/temporal transform, dropped source column) must stay as
    # a None PLACEHOLDER — skipping it would shift every later summary
    # onto the wrong column and silently refute matching manifests
    out = []
    for f in spec.get("fields", []):
        kind, param = _parse_transform(f.get("transform", "identity"))
        if kind is None:
            out.append(None)
            continue
        src = f.get("source-id")
        cur = id2cur.get(src) or (f["name"] if kind == "identity" else None)
        if cur is None or cur not in name2ft:
            out.append(None)
            continue
        keys = [f["name"]]
        if kind == "identity":
            keys += [n for n in nm.get(src, []) if n not in keys]
        out.append({"cur": cur, "kind": kind, "param": param,
                    "keys": keys, "type": name2ft[cur][1]})
    return out


def _part_constraints(part: dict, pfields: list) -> tuple[dict, dict]:
    """One data file's partition record → (column bounds, bucket
    constraints): identity gives exact bounds, truncate a covering range,
    bucket an exact hash-bucket pin."""
    bounds, buckets = {}, {}
    for pf in pfields:
        if pf is None:  # unprunable spec field (positional placeholder)
            continue
        key = next((k for k in pf["keys"] if k in part), None)
        if key is None:
            continue
        v = part[key]
        if v is None:
            if pf["kind"] == "identity":
                bounds[pf["cur"]] = _Bounds(may_null=True, all_null=True)
            continue
        if pf["kind"] == "identity":
            bounds[pf["cur"]] = _Bounds(lo=v, hi=v, may_null=False)
        elif pf["kind"] == "truncate":
            lo, hi = _truncate_range(v, pf["param"], pf["type"])
            bounds[pf["cur"]] = _Bounds(lo=lo, hi=hi, may_null=False)
        else:  # bucket
            buckets[pf["cur"]] = (pf["param"], int(v), int(v), pf["type"])
    return bounds, buckets


def _summary_constraints(m: dict, pfields: list) -> tuple[dict, dict]:
    """Manifest-list partition-field summaries → (bounds, buckets) for the
    whole manifest (prunes it without opening it). Summaries are
    positional per spec field; values are serialized in the PARTITION
    value's type (int for bucket, source type otherwise)."""
    sums = m.get("partitions")
    if not sums:
        return {}, {}
    bounds, buckets = {}, {}
    for pf, s in zip(pfields, sums):
        if pf is None:  # unprunable spec field (positional placeholder)
            continue
        ptype = "int" if pf["kind"] == "bucket" else pf["type"]
        lo = s.get("lower_bound")
        hi = s.get("upper_bound")
        lo = deser_bound(lo, ptype)
        hi = deser_bound(hi, ptype)
        may_null = bool(s.get("contains_null", True))
        if pf["kind"] == "identity":
            bounds[pf["cur"]] = _Bounds(lo=lo, hi=hi, may_null=may_null)
        elif pf["kind"] == "truncate":
            lo2 = (_truncate_range(lo, pf["param"], pf["type"])[0]
                   if lo is not None else None)
            hi2 = (_truncate_range(hi, pf["param"], pf["type"])[1]
                   if hi is not None else None)
            bounds[pf["cur"]] = _Bounds(lo=lo2, hi=hi2, may_null=may_null)
        else:  # bucket
            buckets[pf["cur"]] = (
                pf["param"],
                lo if lo is not None else 0,
                hi if hi is not None else pf["param"] - 1,
                pf["type"])
    return bounds, buckets


def _file_bounds(df: dict, name2ft: dict) -> dict:
    """Per-column _Bounds for one manifest data_file record from its
    lower/upper_bounds + null counts (partition constraints overlay these
    via _part_constraints)."""
    lower = {kv["key"]: kv["value"] for kv in (df.get("lower_bounds") or [])}
    upper = {kv["key"]: kv["value"] for kv in (df.get("upper_bounds") or [])}
    nulls = {kv["key"]: kv["value"]
             for kv in (df.get("null_value_counts") or [])}
    nrec = int(df.get("record_count", 0))
    out = {}
    for name, (fid, typ) in name2ft.items():
        lo = deser_bound(lower.get(fid), typ)
        hi = deser_bound(upper.get(fid), typ)
        nc = nulls.get(fid)
        if lo is None and hi is None and nc is None:
            continue
        out[name] = _Bounds(lo=lo, hi=hi,
                            may_null=(nc is None or nc > 0),
                            all_null=(nc is not None and nrec > 0
                                      and nc >= nrec))
    return out


def plan_deletes(table_dir: str, snapshot_id: int | None = None,
                 filesystem=None, as_of_ms: int | None = None,
                 meta: dict | None = None) -> list[DataFile]:
    """Scan-plan a snapshot's DELETE files (manifest content = 1) —
    Iceberg v2 merge-on-read:

    - content = 1, POSITION deletes: parquet of (file_path, pos) rows
      marking deleted row positions in specific data files;
    - content = 2, EQUALITY deletes: parquet of column VALUES (the columns
      named by `equality_ids` field ids) deleting every row that equals
      any delete row, in data files whose data sequence number is
      STRICTLY LESS than the delete file's (table-spec "Equality delete
      files" applicability rule — later appends are untouched).

    Metadata-only, driver-side; the delete parquet itself is read by the
    scan tasks (filtered to their own data file), never the driver."""
    fs, root = resolve_fs(table_dir, filesystem)
    if meta is None:
        meta = table_metadata(table_dir, filesystem)
    snap = _snapshot(meta, snapshot_id, as_of_ms)
    if snap is None:
        return []
    loc = meta.get("location", "")
    mlist_path = _resolve(loc, snap["manifest-list"], root)
    _, manifests = read_ocf(_read_file(fs, mlist_path))
    out = []
    for m in manifests:
        if m.get("content", 0) != 1:  # only delete manifests
            continue
        mseq = int(m.get("sequence_number", 0))
        _, entries = read_ocf(_read_file(fs, _resolve(
            loc, m["manifest_path"], root)))
        for e in entries:
            if e["status"] == 2:
                continue
            df = e["data_file"]
            content = df.get("content", 0)
            if content not in (1, 2):
                continue
            eseq = e.get("sequence_number")
            out.append(DataFile(
                path=_resolve(loc, df["file_path"], root),
                file_format=str(df.get("file_format", "PARQUET")).upper(),
                record_count=int(df["record_count"]),
                file_size_in_bytes=int(df.get("file_size_in_bytes", 0)),
                content=content,
                equality_ids=tuple(df.get("equality_ids") or ()),
                sequence_number=int(eseq if eseq is not None else mseq)))
    return sorted(out, key=lambda d: d.path)


def iter_plan_files(table_dir: str, snapshot_id: int | None = None,
                    filesystem=None, row_filter=None,
                    as_of_ms: int | None = None, meta: dict | None = None):
    """Streaming scan-plan: yields live parquet DataFiles (status ≠
    DELETED, content = data) one at a time, holding AT MOST one
    manifest's decoded entries in memory — at 10^6-file scale the
    manifest list stays KB-sized and each ~8 MB manifest is planned and
    released before the next opens, so driver peak memory is bounded by
    the LARGEST manifest, not the table (tests/test_iceberg.py asserts
    this with tracemalloc over a 100k-entry synthetic list). Aggregating
    consumers (counts, compaction bin-packing, size stats) should use
    this; `plan_files` materializes + sorts for callers that need the
    whole list anyway. Yield order is manifest order (unsorted). With
    `row_filter`, manifests are pruned by the list's partition summaries
    and data files by their column bounds / identity partition values."""
    fs, root = resolve_fs(table_dir, filesystem)
    if meta is None:
        meta = table_metadata(table_dir, filesystem)
    snap = _snapshot(meta, snapshot_id, as_of_ms)
    if snap is None:
        return
    loc = meta.get("location", "")

    name2ft: dict = {}
    pfields: list = []
    if row_filter is not None:
        schema = _current_schema(meta)
        name2ft = _top_level_prims(schema["fields"]) if schema else {}
        want = _filter_columns(row_filter, set())
        unknown = want - set(name2ft)
        if unknown and not name2ft:
            # schema-less metadata (older fixtures): no pruning possible
            name2ft = {}
        elif unknown:
            raise ValueError(f"row_filter references columns not in the "
                             f"table schema: {sorted(unknown)}")
        nm = ({mm["field-id"]: list(mm["names"])
               for mm in _name_mapping_of(meta)} if schema else {})
        pfields = _spec_pfields(meta, schema, name2ft, nm)

    mlist_path = _resolve(loc, snap["manifest-list"], root)
    _, manifests = read_ocf(_read_file(fs, mlist_path))
    for m in manifests:
        if m.get("content", 0) != 0:  # 1 = delete manifests (v2)
            continue
        mseq = int(m.get("sequence_number", 0))
        if row_filter is not None and name2ft:
            mb, mk = _summary_constraints(m, pfields)
            if (mb or mk) and not _may_match(row_filter, mb, mk):
                continue  # whole manifest pruned from the list summaries
        mpath = _resolve(loc, m["manifest_path"], root)
        _, entries = read_ocf(_read_file(fs, mpath))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df = e["data_file"]
            if df.get("content", 0) != 0:  # 1/2 = delete files (v2)
                continue
            if row_filter is not None and name2ft:
                fb = _file_bounds(df, name2ft)
                pb, pk = _part_constraints(df.get("partition") or {},
                                           pfields)
                fb.update(pb)  # partition values are exact: they win
                if (fb or pk) and not _may_match(row_filter, fb, pk):
                    continue  # file pruned by bounds, never opened
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"non-parquet data file in snapshot: "
                    f"{df['file_path']} ({fmt})")
            eseq = e.get("sequence_number")
            yield DataFile(
                sequence_number=int(eseq if eseq is not None else mseq),
                raw_path=df["file_path"],
                path=_resolve(loc, df["file_path"], root),
                file_format=fmt,
                record_count=int(df["record_count"]),
                file_size_in_bytes=int(df.get("file_size_in_bytes", 0)),
                partition=df.get("partition") or {},
                lower_bounds={kv["key"]: kv["value"]
                              for kv in (df.get("lower_bounds") or [])},
                upper_bounds={kv["key"]: kv["value"]
                              for kv in (df.get("upper_bounds") or [])},
                null_counts={kv["key"]: kv["value"]
                             for kv in (df.get("null_value_counts") or [])})
        del entries  # release this manifest's decoded rows before the next


def plan_files(table_dir: str, snapshot_id: int | None = None,
               filesystem=None, row_filter=None,
               as_of_ms: int | None = None,
               meta: dict | None = None) -> list[DataFile]:
    """Scan-plan a snapshot → sorted list of live parquet DataFiles.
    Materializing wrapper over `iter_plan_files` (see there for the
    per-manifest streaming walk); use the iterator directly for
    aggregate-only consumers at very large file counts."""
    return sorted(iter_plan_files(table_dir, snapshot_id, filesystem,
                                  row_filter, as_of_ms, meta=meta),
                  key=lambda d: d.path)


# --------------------------------------------------------------------------
# schema evolution on read: field-id resolution + name mapping
# --------------------------------------------------------------------------

def _build_name_mapping(schemas: list) -> list[dict]:
    """Union of all schema versions' top-level (field-id → names), names in
    schema-history order — the `schema.name-mapping.default` table property
    (table-spec "Column Projection": files written WITHOUT parquet field
    ids resolve column names through this mapping)."""
    names: dict[int, list[str]] = {}
    for s in sorted(schemas, key=lambda s: s.get("schema-id", 0)):
        for f in s.get("fields", []):
            lst = names.setdefault(f["id"], [])
            if f["name"] not in lst:
                lst.append(f["name"])
    return [{"field-id": fid, "names": n} for fid, n in sorted(names.items())]


def _name_mapping_of(meta: dict) -> list[dict]:
    prop = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if prop:
        return json.loads(prop)
    return _build_name_mapping(meta.get("schemas", []))


def _current_schema(meta: dict) -> dict | None:
    sid = meta.get("current-schema-id", 0)
    return next((s for s in meta.get("schemas", [])
                 if s.get("schema-id") == sid), None)


def read_resolution(meta: dict, wanted: list[str],
                    schema: dict | None = None) -> dict | None:
    """Per-column read resolution for `schema` (default: the CURRENT
    schema; time-travel readers pass the SNAPSHOT's schema — the spec's
    rule is to read a snapshot with the schema its record names): each
    requested column name → its field id plus candidate file column names
    (schema name first, then historical names from the name mapping).
    Scan tasks resolve each data file's columns by parquet field id when
    the file carries `PARQUET:field_id` metadata, else by the first
    candidate name present; a column absent from a file (added after the
    file was written) reads as nulls — the spec's column-projection rules.
    Returns None when the metadata carries no schema (legacy fixtures)."""
    if schema is None:
        schema = _current_schema(meta)
    if schema is None:
        return None
    by_name = {f["name"]: f for f in schema["fields"]}
    nm = {m["field-id"]: list(m["names"]) for m in _name_mapping_of(meta)}
    res = {}
    for w in wanted:
        f = by_name.get(w)
        if f is None:
            raise ValueError(f"column {w!r} not in the current table schema "
                             f"(have {sorted(by_name)})")
        cands = [w] + [n for n in nm.get(f["id"], []) if n != w]
        res[w] = {"field_id": f["id"], "names": cands}
    return res


def _eq_payload(meta: dict, dels: list) -> list | None:
    """Equality-delete descriptors for the scan tasks: per delete file,
    its current-schema column names plus per-column candidate names across
    schema history (field-id → name mapping), and its sequence number for
    the strictly-smaller applicability rule."""
    eq = [d for d in dels if d.content == 2]
    if not eq:
        return None
    schema = _current_schema(meta)
    if schema is None:
        raise ValueError("equality deletes need a table schema")
    id2cur = {f["id"]: f["name"] for f in schema["fields"]}
    nm = {m["field-id"]: list(m["names"]) for m in _name_mapping_of(meta)}
    eq_payload = []
    for d in eq:
        missing = [i for i in d.equality_ids if i not in id2cur]
        if missing:
            raise ValueError(f"equality delete {d.path} references "
                             f"field ids not in the current schema: "
                             f"{missing}")
        cols = [id2cur[i] for i in d.equality_ids]
        cands = [[id2cur[i]] + [n for n in nm.get(i, [])
                                if n != id2cur[i]]
                 for i in d.equality_ids]
        eq_payload.append({"path": d.path, "seq": d.sequence_number,
                           "cols": cols, "cands": cands})
    return eq_payload


def encode_iceberg(spark, table_dir: str, specs, *, snapshot_id=None,
                   filesystem=None, row_filter=None, apply_deletes=True,
                   as_of_ms: int | None = None, **encode_kwargs):
    """Iceberg front door for the file-granular encoder: plan the snapshot
    (pruning by row_filter if given), hand the parquet file list to
    encode_files (one task per file unit, shuffle-free — tokenc/files.py).

    Delete files in the snapshot are applied merge-on-read, distributed to
    the tasks: position deletes mask row positions (each task reads the
    small delete parquet filtered to its own data file); equality deletes
    anti-match on the equality_ids columns, applying only to data files
    with a strictly smaller data sequence number (v2 rule — rows appended
    after the delete survive). Columns resolve per data file by parquet
    field id / name mapping, so the scan reads tables across schema
    evolution (rename → old file column; add → nulls; drop → not read).
    Note row_filter pruning is file-granular (may-match): downstream
    consumers still apply the exact predicate on decoded rows."""
    from .files import encode_files

    # ONE metadata walk per scan: plan_files / plan_deletes reuse it
    # (remote tables pay real network round trips per walk)
    meta = table_metadata(table_dir, filesystem)
    plan = plan_files(table_dir, snapshot_id, filesystem, row_filter,
                      as_of_ms=as_of_ms, meta=meta)
    if not plan:
        raise ValueError(f"snapshot has no matching data files: {table_dir}")
    dels = (plan_deletes(table_dir, snapshot_id, filesystem,
                         as_of_ms=as_of_ms, meta=meta)
            if apply_deletes else [])
    pos = [d.path for d in dels if d.content == 1]
    # time travel reads with the SNAPSHOT's schema (its record names a
    # schema-id): a column dropped and re-added since the snapshot has a
    # NEW field id in the current schema, and resolving with that id would
    # silently null out the snapshot's data (files carry the old id)
    snap_schema = None
    if snapshot_id is not None or as_of_ms is not None:
        snap = _snapshot(meta, snapshot_id, as_of_ms)
        sid = (snap or {}).get("schema-id")
        if sid is not None:
            snap_schema = next((s for s in meta.get("schemas", [])
                                if s.get("schema-id") == sid), None)
    eq_payload = _eq_payload(meta, dels)
    # equality-delete key columns resolve per data file exactly like
    # projected columns (field id / name mapping) — without entries here
    # they'd pass through as bare current-schema names and miss renamed
    # (or worse, match dropped-and-re-added) physical columns. They are
    # named by the CURRENT schema (_eq_payload), so they resolve against
    # it even when the projection resolves against a snapshot schema.
    spec_names = [s.name for s in specs]
    resolution = read_resolution(meta, spec_names, schema=snap_schema)
    eq_cols = sorted({c for e in (eq_payload or []) for c in e["cols"]
                      if c not in spec_names})
    if eq_cols:
        eq_res = read_resolution(meta, eq_cols)
        if resolution is None:
            resolution = eq_res
        elif eq_res:
            resolution.update(eq_res)

    return encode_files(spark, [d.path for d in plan], specs,
                        filesystem=filesystem,
                        delete_files=pos or None,
                        equality_deletes=eq_payload,
                        file_seqs=[d.sequence_number for d in plan],
                        file_keys=[d.raw_path or d.path for d in plan],
                        column_resolution=resolution,
                        **encode_kwargs)


# --------------------------------------------------------------------------
# minimal spec-v2 table builder (fixtures + publishing encoded output)
# --------------------------------------------------------------------------

def _kv_array(name: str, value_type: str) -> dict:
    """Iceberg encodes int-keyed maps as Avro arrays of k/v records."""
    return {"type": "array", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": value_type}]}}


_FIELD_SUMMARY = {
    "type": "record", "name": "r508", "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"],
         "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None,
         "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None,
         "field-id": 511},
    ]}

MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions",
         "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
         "default": None, "field-id": 507},
    ]}

_AVRO_OF_ICE = {"int": "int", "long": "long", "float": "float",
                "double": "double", "boolean": "boolean",
                "string": "string", "binary": "bytes", "date": "int",
                "timestamp": "long", "timestamptz": "long"}


def _parse_part_spec(s: str) -> dict:
    """partition_by entry → parsed spec field: plain column name =
    identity; 'bucket(8, col)' / 'truncate(4, col)' (parens or brackets)
    = transform fields named '<col>_bucket' / '<col>_trunc' like the Java
    library's default names."""
    m = re.fullmatch(r"\s*(bucket|truncate)\s*[\[(]\s*(\d+)\s*,\s*"
                     r"(\w+)\s*[\])]\s*", s)
    if m:
        kind, param, col = m.group(1), int(m.group(2)), m.group(3)
        return {"kind": kind, "param": param, "source": col,
                "name": f"{col}_{'bucket' if kind == 'bucket' else 'trunc'}"}
    return {"kind": "identity", "param": None, "source": s, "name": s}


def _part_value_type(p: dict, name2ft: dict) -> str:
    """Iceberg type of the PARTITION value: bucket → int, else source."""
    return "int" if p["kind"] == "bucket" else name2ft[p["source"]][1]


def _partition_record(pspecs: list, name2ft: dict) -> dict:
    fields = []
    for i, p in enumerate(pspecs):
        ice = _part_value_type(p, name2ft)
        fields.append({"name": p["name"],
                       "type": ["null", _AVRO_OF_ICE[ice]],
                       "default": None, "field-id": 1000 + i})
    return {"type": "record", "name": "r102", "fields": fields}


def _data_file_schema(partition_record: dict) -> dict:
    return {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_record, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "null_value_counts",
         "type": ["null", _kv_array("k121_v122", "long")],
         "default": None, "field-id": 110},
        {"name": "lower_bounds",
         "type": ["null", _kv_array("k126_v127", "bytes")],
         "default": None, "field-id": 125},
        {"name": "upper_bounds",
         "type": ["null", _kv_array("k129_v130", "bytes")],
         "default": None, "field-id": 128},
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int"}],
         "default": None, "field-id": 135},
    ]}


def _manifest_entry_schema(partition_record: dict) -> dict:
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": _data_file_schema(partition_record),
         "field-id": 2},
    ]}


# back-compat names (tests import these)
_PARTITION = {"type": "record", "name": "r102", "fields": []}
MANIFEST_ENTRY_SCHEMA = _manifest_entry_schema(_PARTITION)


def _stat_to_ice(v, ice_type: str):
    """Parquet footer statistics value (python-typed by pyarrow) → the
    iceberg-typed value ser_value expects (days / micros for temporals)."""
    import datetime as dt
    if ice_type == "date":
        return (v - dt.date(1970, 1, 1)).days
    if ice_type.startswith("timestamp"):
        if v.tzinfo is not None:
            epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        else:
            epoch = dt.datetime(1970, 1, 1)
        return (v - epoch) // dt.timedelta(microseconds=1)
    return v


def _collect_file_stats(md, name2ft: dict, path: str):
    """One parquet footer → (lower, upper, nulls) keyed by field-id, with
    string/binary bounds truncated per spec (lower: prefix; upper:
    incremented prefix). Columns resolve by the file's PARQUET:field_id
    metadata when present (a renamed/reordered file still gets SOUND
    bounds), by name otherwise. A bound outside the column's type (an
    int64 file's 2^40 under an `int` column) rejects the file `path`
    with a ValueError naming it and the column."""
    if md.num_row_groups == 0:
        return [], [], []
    from .files import _file_field_ids

    fid2name = _file_field_ids(md.schema.to_arrow_schema())
    # leaf index per top-level primitive (positions are stable across RGs)
    g0 = md.row_group(0)
    pos = {g0.column(ci).path_in_schema: ci for ci in range(g0.num_columns)}
    col_idx = {}
    for name, (fid, _ice) in name2ft.items():
        # same projection rule as files._resolve_read: name fallback only
        # for files WITHOUT field ids — a file with ids that lacks this
        # one has no such column, and borrowing a same-named (dropped,
        # re-added) column's stats would publish unsound bounds
        fname = fid2name.get(fid) if fid2name else name
        if fname is not None and fname in pos:
            col_idx[name] = pos[fname]
    lower, upper, nvc = [], [], []
    for name in sorted(col_idx):
        fid, ice = name2ft[name]
        stats = [md.row_group(rg).column(col_idx[name]).statistics
                 for rg in range(md.num_row_groups)]
        # bounds only if EVERY row group carries min/max (else unsound)
        if all(s is not None and s.has_min_max for s in stats):
            lo = min(_stat_to_ice(s.min, ice) for s in stats)
            hi = max(_stat_to_ice(s.max, ice) for s in stats)
            if ice in ("string", "binary"):
                lo = _trunc_lower(lo)
                hi = _trunc_upper(hi)
            try:
                lo_b = ser_value(lo, ice, ROUND_FLOOR)
                hi_b = (ser_value(hi, ice, ROUND_CEILING)
                        if hi is not None else None)
            except (struct.error, OverflowError) as e:
                raise ValueError(
                    f"data file {path}: column {name!r} holds values "
                    f"[{lo}, {hi}] outside the table's type {ice!r}") from e
            except (ValueError, TypeError):
                # a type without single-value serialization: publish the
                # file WITHOUT bounds for this column (unbounded = sound)
                # rather than failing the whole commit
                lo_b = hi_b = None
            if lo_b is not None:
                lower.append({"key": fid, "value": lo_b})
                if hi_b is not None:
                    upper.append({"key": fid, "value": hi_b})
        if all(s is not None and s.null_count is not None for s in stats):
            nvc.append({"key": fid,
                        "value": int(sum(s.null_count for s in stats))})
    return lower, upper, nvc


def _pa_of_ice(ice: str):
    """Arrow type of an Iceberg primitive type: the type of an
    equality-delete parquet column, and of the nulls a column reads as in
    data files that predate it."""
    import pyarrow as pa

    prims = {"int": pa.int32(), "long": pa.int64(), "float": pa.float32(),
             "double": pa.float64(), "boolean": pa.bool_(),
             "string": pa.string(), "binary": pa.binary(),
             "uuid": pa.binary(16), "date": pa.date32(),
             "time": pa.time64("us"), "timestamp": pa.timestamp("us"),
             "timestamptz": pa.timestamp("us", tz="UTC")}
    if ice in prims:
        return prims[ice]
    if m := re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", ice):
        return pa.decimal128(int(m[1]), int(m[2]))
    if m := re.fullmatch(r"fixed\[(\d+)\]", ice):
        return pa.binary(int(m[1]))
    raise ValueError(f"unsupported Iceberg column type {ice!r}")


def _partition_summaries(pspecs: list, name2ft: dict,
                         partitions: list) -> list | None:
    """Manifest-list partition field summaries over the entries'
    partition dicts: per spec field, whether any value is null and the
    serialized min / max of the rest."""
    if not pspecs:
        return None
    out = []
    for ps in pspecs:
        vals = [p.get(ps["name"]) for p in partitions]
        known = [v for v in vals if v is not None]
        ice = _part_value_type(ps, name2ft)
        out.append({
            "contains_null": len(known) < len(vals), "contains_nan": None,
            "lower_bound": (ser_value(min(known), ice, ROUND_FLOOR)
                            if known else None),
            "upper_bound": (ser_value(max(known), ice, ROUND_CEILING)
                            if known else None)})
    return out


def _commit_metadata(meta_dir: str, meta: dict) -> dict:
    """Atomic metadata-version bump: write-temp + rename of
    v(N+1).metadata.json and version-hint.text (the same last-writer-wins
    commit tokenc.manifest uses)."""
    have = [int(m.group(1)) for p in os.listdir(meta_dir)
            if (m := re.match(r"v(\d+)\.metadata\.json$", p))]
    version = max(have, default=0) + 1
    tmp = os.path.join(meta_dir, f".v{version}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(meta_dir, f"v{version}.metadata.json"))
    with open(os.path.join(meta_dir, ".version-hint.tmp"), "w") as f:
        f.write(str(version))
    os.replace(os.path.join(meta_dir, ".version-hint.tmp"),
               os.path.join(meta_dir, "version-hint.text"))
    return meta


def build_table(table_dir: str, data_files: list[str], *,
                snapshot_id: int = 1, parent: dict | None = None,
                codec: str = "deflate", partition_by: tuple = (),
                collect_stats: bool = True,
                position_deletes: dict | None = None,
                equality_deletes: tuple | None = None,
                partition_values: dict | None = None,
                timestamp_ms: int = 0,
                replace: bool = False,
                carry_files: list | None = None) -> dict:
    """Create/append a spec-v2 metadata tree over existing LOCAL parquet
    files (one manifest per snapshot). Writes a real field-id schema
    derived from the first file's arrow schema, per-file column bounds /
    null counts from the parquet footers, and — with `partition_by` —
    a partition spec plus per-field summaries on the manifest-list
    record. `partition_by` entries are plain column names (identity) or
    'bucket(N, col)' / 'truncate(W, col)' transforms; values derive from
    the footer stats (each file must be constant UNDER THE TRANSFORM) or
    come from `partition_values` = {file_path: {spec_field_name: value}}
    when the caller knows them (the normal case for bucket layouts, where
    a file holds many source values in one hash bucket). Returns the new
    metadata dict. Appending: pass the previous metadata as `parent` —
    the new snapshot's manifest list carries all prior manifests plus the
    new one, and the metadata version bumps atomically (write-temp +
    rename, like tokenc.manifest's commit marker). With `parent` and an
    empty `partition_by`, the parent's partition spec carries over.

    `position_deletes` = {data_file_path: [row positions]} writes a v2
    position-delete parquet (file_path, pos — spec field ids 2147483546 /
    2147483545) plus a delete manifest (content = 1) into this snapshot:
    merge-on-read row deletion, targeting this or any prior snapshot's
    data files. `data_files` may be empty for a delete-only snapshot
    (requires `parent` for the schema).

    `equality_deletes` = (columns, rows) writes a v2 EQUALITY-delete
    parquet of those column values (data_file content = 2, equality_ids =
    the columns' field ids): every row equal to a delete row is removed
    from data files with a strictly smaller data sequence number — rows
    appended in this or later snapshots survive.

    With `parent`, the parent's schema history (schemas list,
    current-schema-id, last-column-id, properties) carries over unchanged —
    appended files are interpreted under the CURRENT schema; use
    `evolve_schema` to change it. The `schema.name-mapping.default`
    property is (re)derived from the schema history on every commit.

    `replace=True` makes this a REPLACE snapshot (compaction commit): the
    new manifest list does NOT carry the parent snapshot's manifests —
    only this call's data/delete manifests plus `carry_files`. Prior
    snapshots stay in the metadata history, so time travel to the
    pre-replace table still works.

    `carry_files` = [DataFile, ...] (from plan_files) re-lists surviving
    files from earlier snapshots verbatim in a status=EXISTING manifest:
    original stats/partition/sequence numbers preserved, nothing re-read
    — the partial-compaction path (rewrite some files, carry the rest)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.abspath(table_dir)
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    seq = snapshot_id
    if parent is not None:
        parent_seq = int(parent.get("last-sequence-number", 0))
        if seq <= parent_seq:
            # v2 ordering is BY SEQUENCE NUMBER: a new snapshot at a
            # smaller/equal seq would make existing equality deletes
            # (applicable to data with strictly smaller seq) silently
            # delete the freshly appended rows, and would regress
            # last-sequence-number. Fail loudly instead.
            raise ValueError(
                f"snapshot_id/seq {seq} must exceed the parent's "
                f"last-sequence-number {parent_seq} (v2 sequence-number "
                f"ordering; out-of-order appends flip equality-delete "
                f"applicability)")

    if parent is not None and parent.get("schemas"):
        cur_schema_id = parent.get("current-schema-id", 0)
        all_schemas = parent["schemas"]
        schema_fields = next(s for s in all_schemas
                             if s.get("schema-id") == cur_schema_id)["fields"]
        last_col_id = parent.get("last-column-id", len(schema_fields))
    elif data_files:
        first_md = pq.read_metadata(os.path.abspath(data_files[0]))
        schema_fields, last_col_id = _ice_schema_from_arrow(
            first_md.schema.to_arrow_schema())
        all_schemas = [{"type": "struct", "schema-id": 0,
                        "fields": schema_fields}]
        cur_schema_id = 0
    else:
        raise ValueError("delete-only snapshot needs parent metadata")
    name2ft = _top_level_prims(schema_fields)
    pspecs = [_parse_part_spec(c) for c in partition_by]
    missing = [p["source"] for p in pspecs if p["source"] not in name2ft]
    if missing:
        raise ValueError(f"partition_by columns not primitive top-level "
                         f"fields: {missing}")
    part_record = _partition_record(pspecs, name2ft)

    def entry(content: int, path: str, n_rows: int, size: int, *,
              partition: dict | None = None, seq_no: int | None = None,
              nvc=(), lower=(), upper=(), equality_ids=None) -> dict:
        """One manifest entry: ADDED, or EXISTING with its original data
        sequence number `seq_no` (a carried file keeps its v2 ordering
        against delete files)."""
        return {"status": 1 if seq_no is None else 0,
                "snapshot_id": snapshot_id, "sequence_number": seq_no,
                "file_sequence_number": None,
                "data_file": {
                    "content": content, "file_path": path,
                    "file_format": "PARQUET",
                    "partition": dict(partition or {}),
                    "record_count": n_rows, "file_size_in_bytes": size,
                    "null_value_counts": list(nvc) or None,
                    "lower_bounds": list(lower) or None,
                    "upper_bounds": list(upper) or None,
                    "equality_ids": equality_ids}}

    def write_manifest(tag: str, entries: list) -> dict:
        """Write manifest snap<id>-<tag>0.avro → its manifest-list record
        (data manifests carry the partition summaries)."""
        deletes = entries[0]["data_file"]["content"] != 0
        path = os.path.join(meta_dir, f"snap{snapshot_id}-{tag}0.avro")
        blob = write_ocf(
            _manifest_entry_schema(_PARTITION if deletes else part_record),
            entries, codec=codec,
            metadata={"format-version": b"2",
                      "content": b"deletes" if deletes else b"data"})
        with open(path, "wb") as f:
            f.write(blob)
        # record counts by entry status: 0 EXISTING, 1 ADDED
        by_status = {s: [e["data_file"]["record_count"] for e in entries
                         if e["status"] == s] for s in (0, 1)}
        return {
            "manifest_path": "file://" + path, "manifest_length": len(blob),
            "partition_spec_id": 0, "content": int(deletes),
            "sequence_number": seq,
            "min_sequence_number": min(
                seq if e["sequence_number"] is None
                else e["sequence_number"] for e in entries),
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(by_status[1]),
            "existing_files_count": len(by_status[0]),
            "deleted_files_count": 0,
            "added_rows_count": sum(by_status[1]),
            "existing_rows_count": sum(by_status[0]),
            "deleted_rows_count": 0,
            "partitions": None if deletes else _partition_summaries(
                pspecs, name2ft,
                [e["data_file"]["partition"] for e in entries])}

    def write_deletes(content: int, table, equality_ids=None) -> dict:
        """Write a delete parquet + its one-entry delete manifest."""
        file_tag, tag = {1: ("del", "d"), 2: ("eq", "e")}[content]
        del_dir = os.path.join(root, "deletes")
        os.makedirs(del_dir, exist_ok=True)
        path = os.path.join(del_dir,
                            f"snap{snapshot_id}-{file_tag}0.parquet")
        pq.write_table(table, path)
        return write_manifest(tag, [entry(
            content, "file://" + path, table.num_rows,
            os.path.getsize(path), equality_ids=equality_ids)])

    entries = []
    for p in data_files:
        ap = os.path.abspath(p)
        md = pq.read_metadata(ap)
        lower, upper, nvc = (_collect_file_stats(md, name2ft, ap)
                             if collect_stats else ([], [], []))
        lo_by_id = {kv["key"]: kv["value"] for kv in lower}
        hi_by_id = {kv["key"]: kv["value"] for kv in upper}
        explicit = ((partition_values or {}).get(p)
                    or (partition_values or {}).get(ap) or {})
        part_vals = {}
        for ps in pspecs:
            c, fname = ps["source"], ps["name"]
            fid, ice = name2ft[c]
            if fname in explicit:
                part_vals[fname] = explicit[fname]
                continue
            if fid not in lo_by_id or fid not in hi_by_id:
                raise ValueError(f"cannot derive partition value for "
                                 f"{c!r} in {ap}: no footer stats")
            lo = deser_value(lo_by_id[fid], ice)
            hi = deser_value(hi_by_id[fid], ice)
            if ps["kind"] == "identity":
                tlo, thi = lo, hi
            elif ps["kind"] == "truncate":
                tlo = _truncate_value(lo, ps["param"], ice)
                thi = _truncate_value(hi, ps["param"], ice)
            else:  # bucket: derivable only from a constant column
                tlo = bucket_value(lo, ice, ps["param"]) if lo == hi \
                    else None
                thi = bucket_value(hi, ice, ps["param"]) if lo == hi \
                    else object()
            if tlo != thi:
                raise ValueError(
                    f"file {ap} is not constant in partition field "
                    f"{fname!r} ([{lo!r}, {hi!r}] under "
                    f"{ps['kind']}): pass partition_values")
            part_vals[fname] = tlo
        entries.append(entry(0, "file://" + ap, md.num_rows,
                             os.path.getsize(ap), partition=part_vals,
                             nvc=nvc, lower=lower, upper=upper))
    mrecs = [write_manifest("m", entries)] if entries else []

    if position_deletes:
        rows = sorted((("file://" + os.path.abspath(p), int(q))
                       for p, ps in position_deletes.items() for q in ps))
        mrecs.append(write_deletes(1, pa.table({
            "file_path": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64())})))

    if equality_deletes:
        eq_cols, eq_rows = equality_deletes
        bad = [c for c in eq_cols if c not in name2ft]
        if bad:
            raise ValueError(f"equality-delete columns not primitive "
                             f"top-level fields: {bad}")
        pa_schema = pa.schema([
            pa.field(c, _pa_of_ice(name2ft[c][1])) for c in eq_cols])
        # deterministic order; None-safe key (null delete keys are legal —
        # spec equality matches null to null)
        rows = sorted((tuple(r) for r in eq_rows),
                      key=lambda r: tuple((v is None, v) for v in r))
        mrecs.append(write_deletes(2, pa.Table.from_arrays(
            [pa.array([r[j] for r in rows], f.type)
             for j, f in enumerate(pa_schema)], schema=pa_schema),
            equality_ids=[name2ft[c][0] for c in eq_cols]))

    if carry_files:
        def kv(d: dict) -> list:
            return [{"key": k, "value": v} for k, v in sorted(d.items())]

        mrecs.append(write_manifest("c", [
            entry(0, cf.raw_path or ("file://" + cf.path),
                  int(cf.record_count), int(cf.file_size_in_bytes),
                  partition=cf.partition, seq_no=int(cf.sequence_number),
                  nvc=kv(cf.null_counts), lower=kv(cf.lower_bounds),
                  upper=kv(cf.upper_bounds))
            for cf in carry_files]))

    prior = []
    if parent is not None and not replace:
        prev_snap = _snapshot(parent, None)
        if prev_snap is not None:
            _, prior = read_ocf(_read_file(
                resolve_fs(root)[0],
                _resolve(parent.get("location", ""),
                         prev_snap["manifest-list"], root)))
    mlist_path = os.path.join(meta_dir, f"snap-{snapshot_id}-1.avro")
    with open(mlist_path, "wb") as f:
        f.write(write_ocf(MANIFEST_FILE_SCHEMA, mrecs + prior, codec=codec))

    props = dict((parent or {}).get("properties") or {})
    props["schema.name-mapping.default"] = json.dumps(
        _build_name_mapping(all_schemas))
    inherit_spec = (not pspecs and parent is not None
                    and parent.get("partition-specs"))
    meta = {
        "format-version": 2, "table-uuid": "0" * 8, "location": root,
        "last-sequence-number": seq, "last-updated-ms": timestamp_ms,
        "last-column-id": last_col_id, "current-schema-id": cur_schema_id,
        "schemas": all_schemas,
        "properties": props,
        "default-spec-id": 0,
        "partition-specs": (
            parent["partition-specs"] if inherit_spec else
            [{"spec-id": 0, "fields": [
                {"name": ps["name"],
                 "transform": ("identity" if ps["kind"] == "identity"
                               else f"{ps['kind']}[{ps['param']}]"),
                 "source-id": name2ft[ps["source"]][0],
                 "field-id": 1000 + i}
                for i, ps in enumerate(pspecs)]}]),
        "last-partition-id": (parent.get("last-partition-id", 999)
                              if inherit_spec else 999 + len(pspecs)),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": snapshot_id,
        "snapshots": (parent.get("snapshots", []) if parent else []) + [{
            "snapshot-id": snapshot_id,
            "sequence-number": seq, "timestamp-ms": timestamp_ms,
            "manifest-list": "file://" + mlist_path,
            # spec: snapshots record the schema they were written with —
            # time-travel readers resolve columns against THIS schema
            "schema-id": cur_schema_id,
            "summary": {"operation": "replace" if replace else "append"}}],
        # spec snapshot-log: timestamp time travel (plan_files as_of_ms).
        # Timestamps are CALLER-provided (deterministic builds; pass real
        # clock values when publishing for production time travel)
        "snapshot-log": (parent.get("snapshot-log", []) if parent else [])
        + [{"timestamp-ms": timestamp_ms, "snapshot-id": snapshot_id}],
    }
    return _commit_metadata(meta_dir, meta)


def evolve_schema(table_dir: str, *, renames: dict | None = None,
                  adds: list | None = None,
                  drops: list | None = None) -> dict:
    """Metadata-only schema-evolution commit (table-spec "Schema
    Evolution"): renames keep the field id (old files resolve through the
    name mapping / parquet field ids), adds assign FRESH field ids (old
    files read the column as null), drops remove the field from the
    current schema (the data stays in old files, unread). Appends a new
    schema to the history with a new schema-id, bumps the metadata
    version atomically, and refreshes `schema.name-mapping.default`.
    No snapshot is created — evolution commutes with data commits.

    `renames` = {old_name: new_name}; `adds` = [(name, iceberg_type)];
    `drops` = [name]. Top-level fields only (nested evolution is out of
    scope for this engine's flat-leaf scan path). Local tables only (the
    fixture/publishing side, like build_table)."""
    renames = dict(renames or {})
    adds = list(adds or [])
    drops = list(drops or [])
    meta = table_metadata(table_dir)
    cur = _current_schema(meta)
    if cur is None:
        raise ValueError("table metadata carries no schema")
    fields = [dict(f) for f in cur["fields"]]
    by_name = {f["name"]: f for f in fields}
    part_src = {pf["source-id"] for p in meta.get("partition-specs", [])
                for pf in p.get("fields", [])}

    for d in drops:
        if d not in by_name:
            raise ValueError(f"cannot drop unknown column {d!r}")
        if by_name[d]["id"] in part_src:
            raise ValueError(f"cannot drop partition source column {d!r}")
    dropped = set(drops)
    fields = [f for f in fields if f["name"] not in dropped]
    for old, new in renames.items():
        if old not in by_name or old in dropped:
            raise ValueError(f"cannot rename unknown column {old!r}")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"rename target {new!r} already exists")
        by_name[old]["name"] = new  # same dict as in `fields`: id kept
    last = meta.get("last-column-id",
                    max((f["id"] for f in fields), default=0))
    for name, ice in adds:
        if any(f["name"] == name for f in fields):
            raise ValueError(f"added column {name!r} already exists")
        last += 1
        fields.append({"id": last, "name": name, "required": False,
                       "type": ice})

    schemas = meta.get("schemas", [])
    new_sid = max((s.get("schema-id", 0) for s in schemas), default=-1) + 1
    meta2 = dict(meta)
    meta2["schemas"] = schemas + [{"type": "struct", "schema-id": new_sid,
                                   "fields": fields}]
    meta2["current-schema-id"] = new_sid
    meta2["last-column-id"] = last
    props = dict(meta.get("properties") or {})
    props["schema.name-mapping.default"] = json.dumps(
        _build_name_mapping(meta2["schemas"]))
    meta2["properties"] = props
    meta_dir = os.path.join(os.path.abspath(_strip_scheme(table_dir)),
                            "metadata")
    return _commit_metadata(meta_dir, meta2)


# --------------------------------------------------------------------------
# compaction: bin-pack small files, materialize deletes, REPLACE commit
# --------------------------------------------------------------------------

def _spec_strings(meta: dict) -> list[str]:
    """Current default partition spec → build_table partition_by strings
    ('col' / 'bucket(N, col)' / 'truncate(W, col)')."""
    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id") == sid), None)
    if spec is None or not spec.get("fields"):
        return []
    schema = _current_schema(meta)
    id2name = {f["id"]: f["name"] for f in (schema or {}).get("fields", [])}
    out = []
    for f in spec["fields"]:
        src = id2name.get(f["source-id"])
        if src is None:
            raise ValueError(f"partition spec field {f['name']!r} sources "
                             f"unknown field id {f['source-id']}")
        t = f["transform"]
        if t == "identity":
            out.append(src)
            continue
        m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
        if not m:
            raise ValueError(f"unsupported partition transform for "
                             f"compaction: {t}")
        out.append(f"{m.group(1)}({m.group(2)}, {src})")
    return out


def plan_compaction(plan: list, dels: list, *, target_file_bytes: int,
                    filesystem=None) -> tuple[list, list]:
    """→ (rewrite_groups, carry_files). A rewrite group is a list of
    DataFiles merged into ONE output file. Policy: within each partition,
    greedy bin-pack by file size up to target_file_bytes; a bin is
    rewritten when it holds >1 file (merge win) or any member has
    applicable deletes (merge-on-read debt to materialize); singleton
    clean bins carry forward untouched. Driver-side, metadata-only —
    except the position-delete parquets' file_path column (small by
    construction), read once to learn which data files they target."""
    import pyarrow.parquet as pq

    targeted: set = set()
    pos = [d for d in dels if d.content == 1]
    if pos:
        fs0, _ = resolve_fs(pos[0].path, filesystem)
        for d in pos:
            t = pq.read_table(_strip_scheme(d.path), filesystem=fs0,
                              columns=["file_path"])
            targeted.update(t.column("file_path").unique().to_pylist())
    eq_seqs = [d.sequence_number for d in dels if d.content == 2]

    def needs_rewrite(f) -> bool:
        if (f.raw_path in targeted or f.path in targeted
                or ("file://" + f.path) in targeted):
            return True
        return any(s > f.sequence_number for s in eq_seqs)

    by_part: dict = {}
    for f in plan:
        key = tuple(sorted((f.partition or {}).items()))
        by_part.setdefault(key, []).append(f)

    groups, carries = [], []
    for key in sorted(by_part):
        files = sorted(by_part[key],
                       key=lambda f: (f.file_size_in_bytes, f.path))
        bins, cur, cur_bytes = [], [], 0
        for f in files:
            if cur and cur_bytes + f.file_size_in_bytes > target_file_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += f.file_size_in_bytes
        if cur:
            bins.append(cur)
        for b in bins:
            if len(b) > 1 or any(needs_rewrite(f) for f in b):
                groups.append(b)
            else:
                carries.extend(b)
    return groups, carries


def _partition_name_remap(meta: dict) -> dict:
    """Table's default-spec field names → the Java-default names
    _parse_part_spec regenerates from _spec_strings, matched by field
    POSITION. compact_table republishes through build_table, whose
    partition_values / carried partition dicts are keyed by the
    regenerated names — an externally created table may name its spec
    fields anything (the name is cosmetic; identity is source-id +
    transform), so the plan's partition dicts need this rename before
    they reach build_table. Empty when the names already agree."""
    sid = meta.get("default-spec-id", 0)
    spec = next((s for s in (meta.get("partition-specs") or [])
                 if s.get("spec-id") == sid), None)
    if not spec or not spec.get("fields"):
        return {}
    old_names = [f["name"] for f in spec["fields"]]
    new_names = [_parse_part_spec(s)["name"] for s in _spec_strings(meta)]
    return {o: n for o, n in zip(old_names, new_names) if o != n}


def compact_table(spark, table_dir: str, *, target_file_bytes: int = 128 << 20,
                  filesystem=None, timestamp_ms: int = 0,
                  codec: str = "deflate",
                  parquet_compression: str = "zstd") -> tuple[dict, dict]:
    """Iceberg table maintenance (the reference engine has no table layer;
    this mirrors Iceberg's rewrite_data_files + the spec's REPLACE
    operation): bin-pack the current snapshot's live data files into
    ~target_file_bytes outputs, apply position + equality deletes while
    rewriting (merge-on-read debt → materialized), and commit a REPLACE
    snapshot. Untouched files are carried forward verbatim (stats and
    sequence numbers preserved — no data read); prior snapshots remain
    time-travelable.

    Scale shape: planning is driver-side metadata (like every Iceberg
    engine); the rewrite fans out ONE Spark task per output file, each
    reading only its own input group — no shuffle, no driver row data.
    At 100 TB the work is bounded by the rewritten bytes, not table size,
    because clean full-size files carry forward.

    Local tables only (build_table writes local metadata). Returns
    (new_metadata, report); a no-op compaction returns the current
    metadata unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .files import _read_data_file, _unit_tasks, resolve_fs as _rfs

    root = os.path.abspath(_strip_scheme(table_dir))
    meta = table_metadata(table_dir, filesystem)
    plan = plan_files(table_dir, filesystem=filesystem, meta=meta)
    dels = plan_deletes(table_dir, filesystem=filesystem, meta=meta)
    groups, carries = plan_compaction(
        plan, dels, target_file_bytes=target_file_bytes,
        filesystem=filesystem)
    report = {"files_before": len(plan), "rewritten": sum(map(len, groups)),
              "carried": len(carries), "outputs": len(groups),
              "deletes_applied": len(dels)}
    if not groups:
        return meta, report

    schema = _current_schema(meta)
    if schema is None:
        raise ValueError("compaction needs a table schema")
    # an external writer may have named partition spec fields freely
    # (e.g. 'bkt'), while build_table regenerates the Java-default names
    # from _spec_strings ('user_id_bucket'); partition dicts from the plan
    # are keyed by the TABLE's names — remap them by field position so the
    # republish round-trips any spec naming
    ren = _partition_name_remap(meta)
    if ren:
        for f in list(plan) + list(carries):
            if f.partition:  # frozen dataclass: update the dict itself
                newp = {ren.get(k, k): v for k, v in f.partition.items()}
                f.partition.clear()
                f.partition.update(newp)
    # every current column, null-filled (nested: not fillable) where a
    # file predates it, written with its field id
    fill = {f["name"]: (_pa_of_ice(f["type"]) if isinstance(f["type"], str)
                        else None) for f in schema["fields"]}
    ids = [{b"PARQUET:field_id": str(f["id"]).encode()}
           for f in schema["fields"]]
    resolution = read_resolution(meta, list(fill))
    eq_payload = _eq_payload(meta, dels) or []
    pos_paths = [d.path for d in dels if d.content == 1]

    snap_id = max((s["snapshot-id"] for s in meta.get("snapshots", [])),
                  default=0) + 1
    out_dir = os.path.join(root, "data")
    os.makedirs(out_dir, exist_ok=True)
    units = []
    for gid, g in enumerate(groups):
        units.append({
            "out": os.path.join(out_dir,
                                f"compact-snap{snap_id}-{gid:05d}.parquet"),
            "paths": [f.path for f in g],
            "keys": [f.raw_path or f.path for f in g],
            "seqs": [f.sequence_number for f in g],
        })
    part_by_out = {u["out"]: dict(g[0].partition or {})
                   for u, g in zip(units, groups)}

    tasks, task_units = _unit_tasks(spark, units, len(units))

    def with_ids(types) -> pa.Schema:
        return pa.schema([pa.field(n, t, metadata=m)
                          for n, t, m in zip(fill, types, ids)])

    def rewrite(batches):
        fs0, _ = _rfs(root, filesystem)
        eq_cache: dict = {}
        for u in task_units(batches):
            kept = []
            for p, key, seq in zip(u["paths"], u["keys"], u["seqs"]):
                pf = pq.ParquetFile(p, filesystem=fs0)
                for rb, keep in _read_data_file(
                        pf, range(pf.metadata.num_row_groups), fill,
                        resolution, fs0, p, key, seq, pos_paths, eq_payload,
                        eq_cache):
                    if keep is not None:
                        rb = rb.filter(pa.array(keep))
                    kept.append(pa.RecordBatch.from_arrays(
                        rb.columns, schema=with_ids(rb.schema.types)))
            out = (pa.Table.from_batches(kept) if kept else with_ids(
                t or pa.null() for t in fill.values()).empty_table())
            pq.write_table(out, u["out"], compression=parquet_compression)
            yield pa.RecordBatch.from_pylist(
                [{"out": u["out"], "n_rows": out.num_rows}])

    done = tasks.mapInArrow(rewrite, "out string, n_rows long").collect()
    got = {r["out"] for r in done}
    missing = [u["out"] for u in units if u["out"] not in got]
    if missing:
        raise RuntimeError(f"compaction tasks missing outputs: {missing[:3]}")
    report["rows_written"] = sum(r["n_rows"] for r in done)

    part_by = _spec_strings(meta)
    new_meta = build_table(
        root, [u["out"] for u in units], snapshot_id=snap_id, parent=meta,
        codec=codec, partition_by=tuple(part_by),
        partition_values={u["out"]: part_by_out[u["out"]] for u in units},
        timestamp_ms=timestamp_ms, replace=True,
        carry_files=carries or None)
    report["files_after"] = len(units) + len(carries)
    return new_meta, report


def _snapshot_refs(meta: dict, snap: dict, root: str,
                   fs=None) -> tuple[set, set]:
    """→ (metadata file paths, data/delete file paths) a snapshot pins:
    its manifest list, every manifest in it, and every file each manifest
    entry names (including DELETED entries — the path is still referenced
    by history until the snapshot expires)."""
    loc = meta.get("location", "")
    fs = fs or resolve_fs(root)[0]
    mlist = _resolve(loc, snap["manifest-list"], root)
    metas, datas = {mlist}, set()
    _, manifests = read_ocf(_read_file(fs, mlist))
    for m in manifests:
        mp = _resolve(loc, m["manifest_path"], root)
        metas.add(mp)
        _, entries = read_ocf(_read_file(fs, mp))
        for e in entries:
            datas.add(_resolve(loc, e["data_file"]["file_path"], root))
    return metas, datas


def expire_snapshots(table_dir: str, *, keep_last: int = 1,
                     older_than_ms: int | None = None,
                     dry_run: bool = False) -> tuple[dict, dict]:
    """Iceberg snapshot expiry (the expire_snapshots maintenance action):
    drop history beyond the newest `keep_last` snapshots (and, with
    `older_than_ms`, keep anything at or after that timestamp too — the
    union survives; the current snapshot always survives), then delete
    every metadata/data file referenced ONLY by expired snapshots. After a
    compaction REPLACE this is what actually reclaims the small pre-merge
    files — compaction rewrites, expiry deletes.

    Driver-side metadata walk, local tables only (mirrors build_table).
    Returns (new_metadata, report); report lists deleted paths. Time
    travel to expired snapshots stops working — by design."""
    root = os.path.abspath(_strip_scheme(table_dir))
    fs, _ = resolve_fs(root)
    meta = table_metadata(table_dir)
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: s["sequence-number"])
    cur = meta.get("current-snapshot-id")
    keep_ids = {s["snapshot-id"] for s in snaps[-max(keep_last, 1):]}
    keep_ids.add(cur)
    if older_than_ms is not None:
        keep_ids.update(s["snapshot-id"] for s in snaps
                        if s["timestamp-ms"] >= older_than_ms)
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    report = {"expired": len(expired), "kept": len(snaps) - len(expired),
              "deleted_metadata": [], "deleted_data": []}
    if not expired:
        return meta, report

    keep_meta: set = set()
    keep_data: set = set()
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            m, d = _snapshot_refs(meta, s, root, fs)
            keep_meta |= m
            keep_data |= d
    drop_meta: set = set()
    drop_data: set = set()
    for s in expired:
        m, d = _snapshot_refs(meta, s, root, fs)
        drop_meta |= m - keep_meta
        drop_data |= d - keep_data

    if not dry_run:
        for p in sorted(drop_meta | drop_data):
            if os.path.exists(p):
                os.remove(p)
        meta2 = dict(meta)
        meta2["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep_ids]
        meta2["snapshot-log"] = [
            e for e in meta.get("snapshot-log", [])
            if e["snapshot-id"] in keep_ids]
        meta = _commit_metadata(os.path.join(root, "metadata"), meta2)
    report["deleted_metadata"] = sorted(drop_meta)
    report["deleted_data"] = sorted(drop_data)
    return meta, report
