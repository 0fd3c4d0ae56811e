"""Column specs: Spark/Arrow types → engine physical types.

The reference's four schema frontends (struct tags / JSON / CSV metadata /
Arrow, /root/reference/schema/schemahandler.go:230-404, schema/json.go:21,
writer/csv.go:29, schema/arrow.go:25-152) collapse to one here: a Spark
DataFrame schema plus an optional per-column codec override dict — the
engine analog of `parquet:"...encoding=..."` tags
(/root/reference/common/common.go:76-291).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa

from . import codecs
from . import compress as compress_mod


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    phys: int            # codecs.PHYS_*
    is_list: bool = False
    # logical (converted) type layered on the physical storage — the
    # reference's DATE/TIME/TIMESTAMP logical types over INT32/INT64
    # (common/common.go:330-525, types/converter.go:11-112). Encode views
    # the Arrow array as its storage integer; decode views it back.
    arrow_type: object | None = None  # original pa.DataType when logical
    codec: int | None = None   # None → auto-select per chunk
    omit_stats: bool = False   # reference: omitstats tag (common/common.go:176-187)
    # optional block compression of the encoded payload — the engine analog
    # of the reference's per-column CompressionType + compress/ registry
    # (/root/reference/compress/compress.go:8-30); None = rely on the
    # Parquet container's codec for the blob column
    compression: str | None = None
    # build a per-chunk split-block bloom filter (tokenc/bloom.py) for
    # point-lookup pruning on unsorted high-cardinality keys; opt-in
    # because it costs a hash pass per value at encode time
    bloom: bool = False
    # record the chunk's DISTINCT value set in the manifest (as JSON, only
    # when cardinality <= tokenc.engine.DISTINCT_MAX) — the dictionary-page
    # pruning analog (reference layout/dictpage.go dictionaries, evaluated
    # at metadata scale instead of read time): IN/LIKE/arbitrary predicates
    # prune row groups without touching any blob. Opt-in because it costs
    # a unique() pass per chunk at encode time.
    distinct: bool = False


def _logical_storage(t: pa.DataType) -> int | None:
    """Physical storage for date/time/timestamp logical types (zero-copy
    reinterpret; epoch-relative integers, like Parquet's converted types)."""
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return codecs.PHYS_INT32
    if (pa.types.is_date64(t) or pa.types.is_time64(t)
            or pa.types.is_timestamp(t) or pa.types.is_duration(t)):
        return codecs.PHYS_INT64
    if pa.types.is_decimal(t):
        # DECIMAL converted types (reference types/types.go:174-200):
        # p ≤ 18 over INT64 unscaled; p > 18 over 16-byte FLBA holding the
        # big-endian two's-complement value (types/types.go:268-330)
        if t.precision <= 18:
            return codecs.PHYS_INT64
        return codecs.PHYS_BYTE_ARRAY
    return None


_ARROW_PHYS = {
    pa.int32(): codecs.PHYS_INT32,
    pa.int64(): codecs.PHYS_INT64,
    pa.float32(): codecs.PHYS_FLOAT,
    pa.float64(): codecs.PHYS_DOUBLE,
    pa.bool_(): codecs.PHYS_BOOL,
    pa.string(): codecs.PHYS_BYTE_ARRAY,
    pa.large_string(): codecs.PHYS_BYTE_ARRAY,
    pa.binary(): codecs.PHYS_BYTE_ARRAY,
    pa.large_binary(): codecs.PHYS_BYTE_ARRAY,
}


def specs_from_arrow_schema(schema: pa.Schema,
                            codec_overrides: dict[str, str] | None = None,
                            compression: dict[str, str] | str | None = None,
                            bloom_columns=None,
                            distinct_columns=None) -> list[ColumnSpec]:
    overrides = {}
    for k, v in (codec_overrides or {}).items():
        if v not in codecs.CODEC_IDS:
            raise ValueError(f"unknown codec {v!r} for column {k!r}; "
                             f"available: {sorted(codecs.CODEC_IDS)}")
        overrides[k] = codecs.CODEC_IDS[v]
    comp = ({f.name: compression for f in schema} if isinstance(compression, str)
            else (compression or {}))
    for col, name in comp.items():
        if name is not None and name not in compress_mod.COMP_IDS:
            raise ValueError(
                f"unknown compression {name!r} for column {col!r}; "
                f"available: {sorted(compress_mod.COMP_IDS)}")
    # keys must name real columns (same contract as bloom/distinct_columns):
    # a typo'd override/compression entry silently applying NOTHING is the
    # worst failure mode — the user believes the setting is in effect
    names = set(schema.names)
    for label, keys in (("codec_overrides", overrides), ("compression", comp)):
        unknown = set(keys) - names
        if unknown:
            raise ValueError(f"{label} names unknown column(s) "
                             f"{sorted(unknown)}; schema has {sorted(names)}")
    out = []
    for f in schema:
        t = f.type
        if pa.types.is_dictionary(t):
            # dictionary-encoded Arrow input (the reference's ENUM converted
            # type is a dict-coded BYTE_ARRAY, common/common.go:330-525):
            # spec'd as the VALUE type — the engine re-derives its own
            # dictionary via the selector, so upstream dict encoding is an
            # input representation, not a storage decision
            t = t.value_type
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            elem = t.value_type
            if elem in _ARROW_PHYS:
                # list<string>/list<binary> shares the one-level list
                # machinery with flattened byte_array elements (the
                # reference's repeated BYTE_ARRAY leaf,
                # schema/schemahandler.go:297-335). Binary elements carry
                # their type so the rebuild doesn't force a UTF-8 cast
                # (same rule as scalar BSON-style bytes below).
                is_bin = (_ARROW_PHYS[elem] == codecs.PHYS_BYTE_ARRAY
                          and (pa.types.is_binary(elem)
                               or pa.types.is_large_binary(elem)))
                out.append(ColumnSpec(f.name, _ARROW_PHYS[elem], is_list=True,
                                      arrow_type=elem if is_bin else None,
                                      codec=overrides.get(f.name),
                                      compression=comp.get(f.name)))
                continue
            storage = _logical_storage(elem)
            if storage is None or storage == codecs.PHYS_BYTE_ARRAY:
                raise ValueError(f"unsupported list element type {elem} for {f.name}")
            # logical DATE/TIME/TIMESTAMP/DECIMAL(p<=18) elements under a
            # repeated group (reference schema/schemahandler.go:297-335:
            # ordinary leaf types below REPEATED): stored as the leaf's
            # storage integer; on a LIST spec `arrow_type` is the ELEMENT
            # logical type
            out.append(ColumnSpec(f.name, storage, is_list=True,
                                  arrow_type=elem,
                                  codec=overrides.get(f.name),
                                  compression=comp.get(f.name)))
        elif t in _ARROW_PHYS:
            # opaque binary (the reference's BSON converted type — raw
            # bytes, common/common.go:330-525) must NOT rebuild as UTF-8
            # string: keep the original Arrow type on the spec
            at = t if (pa.types.is_binary(t) or pa.types.is_large_binary(t)) \
                else None
            out.append(ColumnSpec(f.name, _ARROW_PHYS[t], codec=overrides.get(f.name),
                                  compression=comp.get(f.name), arrow_type=at))
        elif pa.types.is_fixed_size_binary(t):
            # FLBA columns (reference PLAIN FLBA, encoding/encodingwrite.go:
            # 123-130) carry the UUID (FLBA-16) and INTERVAL (FLBA-12)
            # logical types (common/common.go:330-525). Stored through the
            # generic byte_array machinery with constant stride; min/max
            # stats stay lexicographic-over-bytes, Parquet's FLBA order
            out.append(ColumnSpec(f.name, codecs.PHYS_BYTE_ARRAY,
                                  codec=overrides.get(f.name),
                                  compression=comp.get(f.name), arrow_type=t))
        elif (phys := _logical_storage(t)) is not None:
            # decimal>18 stats would need the reference's signed-binary
            # comparator (common/common.go:607-665) to be meaningful;
            # lexicographic byte min/max is wrong across signs → omit
            omit = (pa.types.is_decimal(t) and phys == codecs.PHYS_BYTE_ARRAY)
            out.append(ColumnSpec(f.name, phys, codec=overrides.get(f.name),
                                  compression=comp.get(f.name), arrow_type=t,
                                  omit_stats=omit))
        else:
            raise ValueError(f"unsupported type {t} for column {f.name}")
    if bloom_columns:
        from dataclasses import replace

        unknown = set(bloom_columns) - {s.name for s in out}
        if unknown:
            raise ValueError(f"bloom_columns not in schema: {sorted(unknown)}")
        scalar = {s.name for s in out if not s.is_list}
        bad = set(bloom_columns) - scalar
        if bad:
            raise ValueError(f"bloom_columns must be scalar columns: "
                             f"{sorted(bad)}")
        out = [replace(s, bloom=True) if s.name in bloom_columns else s
               for s in out]
    if distinct_columns:
        from dataclasses import replace

        unknown = set(distinct_columns) - {s.name for s in out}
        if unknown:
            raise ValueError(
                f"distinct_columns not in schema: {sorted(unknown)}")
        scalar = {s.name for s in out if not s.is_list}
        bad = set(distinct_columns) - scalar
        if bad:
            raise ValueError(f"distinct_columns must be scalar columns: "
                             f"{sorted(bad)}")
        out = [replace(s, distinct=True) if s.name in distinct_columns else s
               for s in out]
    return out
