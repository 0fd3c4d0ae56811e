"""Nested-column shredding: arbitrary struct/map/array nesting → flat leaves.

The reference shreds arbitrary nesting to leaf paths with Dremel levels via
recursion (marshal/marshal.go:227-343; max DL/RL over any path
schema/schemahandler.go:92-150; nested example example/local_nested.go).
Spark-first the same model is a recursive projection of JVM-side
expressions — no UDF, no shuffle — down to leaves the engine encodes
(scalars and one-level lists):

  * struct s{a, b}     →  s__a, s__b (recursive), plus s__~valid when the
                          struct itself is nullable (null-struct vs
                          struct-of-nulls, the DL distinction)
  * map<k, v>          →  map_entries(m): array<struct{key,value}>, then
                          recurse (the reference's key_value repeated
                          group); null map → null list, empty → empty
  * array<struct{f…}>  →  one array column per subfield (aligned lengths,
                          recursive) + m__~evalid element-validity array
                          when elements can be null
  * array<array<X>>    →  inner-length array (~olens; null element = null
                          inner) + flattened array<X> (~flat), recursive —
                          RL ≥ 2 becomes offset arithmetic
  * array<map<k,v>>    →  transform(map_entries) → array<array<struct>>,
                          recurse
  * array<prim>/scalar →  unchanged (engine leaf)

Generated marker segments start with '~'; user field segments escape '~'
('~~'), '.' ('~d') and '__' ('~u'), so flat names are collision-free for
any field names (a field literally named 'valid' or 'a__b' cannot clash
with a generated column).

`unshred_df` inverts it after decode: a pure column projection when every
composite is single-level (struct-of-scalars / map of scalars /
array<struct-of-scalars>), else one vectorized Arrow pass that rebuilds
the nested arrays bottom-up from offsets — linear, copy-free for element
data (Spark expressions would need per-row prefix-sum scans, O(n²) in
HOFs). Round trip is exact for ANY nesting of struct/map/array over the
engine's leaf types, including null maps/lists vs empty, null elements
(chunk F_ELEM_NULLS), and null structs at any depth.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ._mem import worker_batches

SEP = "__"
TAG = "~"                 # marker prefix: cannot appear in escaped segments
VALID = SEP + TAG + "valid"    # nullable struct: per-row presence bit
EVALID = SEP + TAG + "evalid"  # array<struct>: per-element presence bits
OLENS = SEP + TAG + "olens"    # array<array>: inner lengths (null = null inner)
FLAT = SEP + TAG + "flat"      # array<array>: flattened elements
ENT = SEP + TAG + "ent"        # map: entries list


def _seg(field_name: str) -> str:
    """Collision-free path segment: '~' introduces escapes, so generated
    '~'-prefixed markers can never collide with user field names, '.' can't
    read as a nested-field reference downstream, and '__' inside a field
    name can't read as a path separator."""
    return (field_name.replace("~", "~~").replace(".", "~d")
            .replace(SEP, "~u"))


def _entries_type(mt: T.MapType) -> T.ArrayType:
    """map<k,v> ≙ array<struct{key,value}> (the reference's key_value
    repeated group, common/common.go:330-525). Entry structs are never
    null; keys are never null."""
    return T.ArrayType(T.StructType([
        T.StructField("key", mt.keyType, False),
        T.StructField("value", mt.valueType, mt.valueContainsNull),
    ]), containsNull=False)


def _shred(base, name: str, dtype, nullable: bool, out: list) -> None:
    if isinstance(dtype, T.StructType):
        if nullable:
            out.append(base.isNotNull().alias(name + VALID))
        for f in dtype.fields:
            _shred(base.getField(f.name), name + SEP + _seg(f.name),
                   f.dataType, f.nullable, out)
    elif isinstance(dtype, T.MapType):
        _shred(F.map_entries(base), name + ENT, _entries_type(dtype),
               nullable, out)
    elif isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.ArrayType):
            # repeated-of-repeated: outer structure as an inner-length array
            # (null element = null inner array) + flattened elements
            out.append(F.transform(
                base, lambda x: F.when(x.isNotNull(), F.size(x)))
                .alias(name + OLENS))
            flat = F.flatten(F.transform(base, lambda x: F.coalesce(x, F.array())))
            _shred(flat, name + FLAT,
                   T.ArrayType(et.elementType, et.containsNull), nullable, out)
        elif isinstance(et, T.MapType):
            ent = F.transform(base, lambda x: F.map_entries(x))
            _shred(ent, name + ENT,
                   T.ArrayType(_entries_type(et), dtype.containsNull),
                   nullable, out)
        elif isinstance(et, T.StructType):
            # one aligned array per subfield + element validity when struct
            # elements can be null (struct-of-nulls vs null-struct)
            if dtype.containsNull:
                out.append(F.transform(base, lambda x: x.isNotNull())
                           .alias(name + EVALID))

            def getter(fname):  # NOT a default-arg lambda: pyspark reads the
                return lambda x: x.getField(fname)  # lambda's arity

            for f in et.fields:
                _shred(F.transform(base, getter(f.name)),
                       name + SEP + _seg(f.name),
                       T.ArrayType(f.dataType,
                                   dtype.containsNull or f.nullable),
                       nullable, out)
        else:
            out.append(base.alias(name))  # array<prim> engine leaf
    else:
        out.append(base.alias(name))


def shred_df(df: DataFrame) -> DataFrame:
    """Flatten every struct/map/nested-array column to engine-ready leaves."""
    out: list = []
    for f in df.schema.fields:
        _shred(F.col(f"`{f.name}`"), _seg(f.name), f.dataType, f.nullable, out)
    flat = df.select(*out)
    cols = flat.columns
    # fail fast on any generated-name collision (escaping should prevent all)
    assert len(set(cols)) == len(cols), \
        f"shred produced duplicate flat names: {sorted(c for c in cols if cols.count(c) > 1)}"
    return flat


# --------------------------------------------------------------------------
# expression-path unshred (single-level composites stay JVM-side)
# --------------------------------------------------------------------------

_COMPOSITE = (T.StructType, T.MapType, T.ArrayType)


def _expr_ok(dtype) -> bool:
    """True when the reassembly is expressible as pure Spark expressions:
    structs recurse freely; maps and array<struct> must hold scalars; nested
    arrays need the Arrow pass (per-row prefix scans)."""
    if isinstance(dtype, T.StructType):
        return all(_expr_ok(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.MapType):
        return (not isinstance(dtype.keyType, _COMPOSITE)
                and not isinstance(dtype.valueType, _COMPOSITE))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            return all(not isinstance(f.dataType, _COMPOSITE)
                       for f in et.fields)
        return not isinstance(et, _COMPOSITE)
    return True


def _unshred(name: str, dtype, nullable: bool):
    if isinstance(dtype, T.StructType):
        st = F.struct(*[
            _unshred(name + SEP + _seg(f.name), f.dataType, f.nullable)
            .alias(f.name)
            for f in dtype.fields])
        if nullable:
            st = F.when(F.col(f"`{name + VALID}`"), st)
        return st
    if isinstance(dtype, T.MapType):
        mk = F.col(f"`{name + ENT + SEP}key`")
        mv = F.col(f"`{name + ENT + SEP}value`")
        return F.when(mk.isNotNull(), F.map_from_arrays(mk, mv))
    if (isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, T.StructType)):
        st = dtype.elementType
        cols = [F.col(f"`{name + SEP + _seg(f.name)}`") for f in st.fields]
        # positional field rename; decode makes every field nullable
        relaxed = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in st.fields])
        zipped = F.arrays_zip(*cols).cast(T.ArrayType(relaxed, containsNull=True))
        if dtype.containsNull:
            ev = F.col(f"`{name + EVALID}`")
            zipped = F.transform(
                zipped, lambda x, i: F.when(F.get(ev, i), x))
        return zipped
    return F.col(f"`{name}`")


def unshred_projection(schema: T.StructType) -> list:
    """Column expressions reassembling `schema` from its shredded columns
    (valid only when every field passes `_expr_ok`)."""
    return [_unshred(_seg(f.name), f.dataType, f.nullable).alias(f.name)
            for f in schema.fields]


# --------------------------------------------------------------------------
# Arrow-path unshred: recursive bottom-up rebuild from offsets
# --------------------------------------------------------------------------

def _np_off(arr: pa.Array) -> np.ndarray:
    """List offsets as int64 (n+1 values, possibly non-zero-based)."""
    return np.asarray(arr.offsets, dtype=np.int64)


def _row_lens(arr: pa.Array) -> np.ndarray:
    """Per-row element counts of a list array (0 at null rows)."""
    lens = np.diff(_np_off(arr))
    if arr.null_count:
        lens = np.where(np.asarray(arr.is_valid()), lens, 0)
    return lens


def _flat_child(arr: pa.Array) -> pa.Array:
    """Child values covering exactly this list array's elements."""
    off = _np_off(arr)
    return arr.values.slice(int(off[0]), int(off[-1] - off[0]))


def _list_of(offsets0: np.ndarray, child: pa.Array,
             mask: np.ndarray | None) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets0, pa.int32()), child,
        mask=pa.array(mask) if mask is not None else None)


def _null_mask(arr: pa.Array) -> np.ndarray | None:
    return ~np.asarray(arr.is_valid()) if arr.null_count else None


def _entries_to_map(ent: pa.Array) -> pa.Array:
    """list<struct{key,value}> → map<k,v> — pure layout reinterpretation
    (identical buffers; the reference's key_value group ↔ MAP equivalence)."""
    st = ent.type.value_type
    mt = pa.map_(st.field("key").type, st.field("value").type)
    return ent.view(mt)


def _rebuild_aa(olens: pa.Array, flat: pa.Array) -> pa.Array:
    """(olens: list<int>, flat: list<X>) → list<list<X>> — offset
    arithmetic on the Arrow buffers, linear and copy-free for element data.
    `flat`'s child may be any type (struct, map, further lists)."""
    n = len(olens)
    row_mask = _null_mask(olens)
    o_off = _np_off(olens)
    lens_child = olens.values.slice(int(o_off[0]), int(o_off[-1] - o_off[0]))
    total = len(lens_child)
    inner_valid = np.asarray(lens_child.is_valid()) if lens_child.null_count else None
    fill = lens_child.fill_null(0) if lens_child.null_count else lens_child
    lens_np = np.asarray(fill).astype(np.int64)
    if inner_valid is not None:
        lens_np = np.where(inner_valid, lens_np, 0)
    io = np.zeros(total + 1, dtype=np.int32)
    np.cumsum(lens_np, out=io[1:])
    child = _flat_child(flat)
    inner = pa.ListArray.from_arrays(
        pa.array(io, pa.int32()), child,
        mask=pa.array(~inner_valid) if inner_valid is not None else None)
    return _list_of((o_off - o_off[0]).astype(np.int32), inner, row_mask)


def _rebuild_col(cols: dict[str, pa.Array], name: str, dtype) -> pa.Array:
    """Rebuild the Arrow array for `name: dtype` from shredded leaf columns
    (the exact inverse of `_shred`, case for case)."""
    if isinstance(dtype, T.StructType):
        children = [_rebuild_col(cols, name + SEP + _seg(f.name), f.dataType)
                    for f in dtype.fields]
        mask = None
        if name + VALID in cols:
            valid = np.asarray(cols[name + VALID])
            mask = pa.array(~valid)
        return pa.StructArray.from_arrays(
            children, names=[f.name for f in dtype.fields], mask=mask)
    if isinstance(dtype, T.MapType):
        ent = _rebuild_col(cols, name + ENT, _entries_type(dtype))
        return _entries_to_map(ent)
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.ArrayType):
            olens = cols[name + OLENS]
            flat = _rebuild_col(cols, name + FLAT,
                                T.ArrayType(et.elementType, et.containsNull))
            return _rebuild_aa(olens, flat)
        if isinstance(et, T.MapType):
            ll = _rebuild_col(cols, name + ENT,
                              T.ArrayType(_entries_type(et), dtype.containsNull))
            # list<list<struct{key,value}>> → list<map>: layout-identical
            inner_map = _entries_to_map(_flat_child(ll))
            off = _np_off(ll)
            return _list_of((off - off[0]).astype(np.int32), inner_map,
                            _null_mask(ll))
        if isinstance(et, T.StructType):
            flists = [_rebuild_col(cols, name + SEP + _seg(f.name),
                                   T.ArrayType(f.dataType, True))
                      for f in et.fields]
            ev = cols.get(name + EVALID)
            ref = ev if ev is not None else flists[0]
            lens = _row_lens(ref)
            off0 = np.zeros(lens.size + 1, dtype=np.int32)
            np.cumsum(lens, out=off0[1:])
            children = [_flat_child(fl) for fl in flists]
            emask = None
            if ev is not None:
                ev_flat = np.asarray(_flat_child(ev))
                emask = pa.array(~ev_flat)
            elem = pa.StructArray.from_arrays(
                children, names=[f.name for f in et.fields], mask=emask)
            return _list_of(off0, elem, _null_mask(ref))
        return cols[name]  # array<prim> leaf
    return cols[name]


def rebuild_arrays(cols: dict[str, pa.Array],
                   schema: T.StructType) -> list[pa.Array]:
    """Rebuild every top-level column of `schema` from its shredded leaves
    (Arrow arrays keyed by flat name). Shared by the Spark unshred pass and
    the in-process (local.py) reader."""
    return [_rebuild_col(cols, _seg(f.name), f.dataType)
            for f in schema.fields]


# --------------------------------------------------------------------------
# Arrow-path shred: the same decomposition on pyarrow arrays (no Spark) —
# used by the in-process library mode (local.py), mirror of `_shred`
# --------------------------------------------------------------------------

def _entries_struct(mt) -> pa.DataType:
    return pa.struct([pa.field("key", mt.key_type, nullable=False),
                      pa.field("value", mt.item_type)])


def _shred_arrow(arr: pa.Array, name: str, dtype, nullable: bool,
                 out: dict) -> None:
    if isinstance(dtype, T.StructType):
        if nullable:
            out[name + VALID] = arr.is_valid()
        for i, f in enumerate(dtype.fields):
            _shred_arrow(arr.field(i), name + SEP + _seg(f.name),
                         f.dataType, f.nullable, out)
    elif isinstance(dtype, T.MapType):
        ent = arr.view(pa.list_(_entries_struct(arr.type)))
        _shred_arrow(ent, name + ENT, _entries_type(dtype), nullable, out)
    elif isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.ArrayType):
            olens, flat = _aa_split_arrow(arr)
            out[name + OLENS] = olens
            _shred_arrow(flat, name + FLAT,
                         T.ArrayType(et.elementType, et.containsNull),
                         nullable, out)
        elif isinstance(et, T.MapType):
            mt = arr.type.value_type
            ent = arr.view(pa.list_(pa.list_(_entries_struct(mt))))
            _shred_arrow(ent, name + ENT,
                         T.ArrayType(_entries_type(et), dtype.containsNull),
                         nullable, out)
        elif isinstance(et, T.StructType):
            child = arr.values
            rmask = _null_mask(arr)
            pamask = pa.array(rmask) if rmask is not None else None
            if dtype.containsNull:
                out[name + EVALID] = pa.ListArray.from_arrays(
                    arr.offsets, child.is_valid(), mask=pamask)
            for i, f in enumerate(et.fields):
                flist = pa.ListArray.from_arrays(arr.offsets, child.field(i),
                                                 mask=pamask)
                _shred_arrow(flist, name + SEP + _seg(f.name),
                             T.ArrayType(f.dataType,
                                         dtype.containsNull or f.nullable),
                             nullable, out)
        else:
            out[name] = arr
    else:
        out[name] = arr


def _aa_split_arrow(arr: pa.Array) -> tuple[pa.Array, pa.Array]:
    """list<list<X>> → (olens: list<int32>, flat: list<X>)."""
    inner = arr.values
    o_off = _np_off(arr)
    i_off = _np_off(inner)
    lens = np.diff(i_off)
    valid = np.asarray(inner.is_valid()) if inner.null_count else None
    rmask = _null_mask(arr)
    pamask = pa.array(rmask) if rmask is not None else None
    olens_child = pa.array(lens.astype(np.int32),
                           mask=~valid if valid is not None else None)
    olens = pa.ListArray.from_arrays(arr.offsets, olens_child, mask=pamask)
    lens0 = np.where(valid, lens, 0) if valid is not None else lens
    cum = np.zeros(lens0.size + 1, dtype=np.int64)
    np.cumsum(lens0, out=cum[1:])
    f_off = cum[o_off] - cum[o_off[0]]
    if valid is None or (lens[~valid] == 0).all():
        # null inner spans are empty → element data is already contiguous
        child = inner.values.slice(int(i_off[o_off[0]]),
                                   int(i_off[o_off[-1]] - i_off[o_off[0]]))
        if valid is None:
            f_off = i_off[o_off] - i_off[o_off[0]]
    else:  # gather elements of VALID inner slots only
        from .codecs.plain import _ranges_to_indices

        idx = _ranges_to_indices(i_off[:-1][valid], lens[valid])
        child = inner.values.take(pa.array(idx, pa.int64()))
    flat = pa.ListArray.from_arrays(
        pa.array(f_off.astype(np.int32), pa.int32()), child, mask=pamask)
    return olens, flat


def shred_arrow_columns(table: pa.Table,
                        schema: T.StructType) -> dict[str, pa.Array]:
    """Arrow-level `shred_df`: flatten a pyarrow Table's composite columns
    to engine-ready leaves with the same flat names as the Spark path."""
    out: dict[str, pa.Array] = {}
    for i, f in enumerate(schema.fields):
        _shred_arrow(table.column(i).combine_chunks(), _seg(f.name),
                     f.dataType, f.nullable, out)
    return out


def flat_prefix(field_name: str) -> str:
    """All flat leaves of top-level `field_name` are named exactly
    `_seg(name)` or start with `_seg(name) + SEP` (segments never contain
    SEP, so prefixes are unambiguous)."""
    return _seg(field_name)


def unshred_df(df: DataFrame, schema: T.StructType) -> DataFrame:
    if all(_expr_ok(f.dataType) for f in schema.fields):
        return df.select(*unshred_projection(schema))
    # anything deeper rebuilds bottom-up in ONE vectorized Arrow pass
    from pyspark.sql.pandas.types import to_arrow_schema

    relaxed = T.StructType([T.StructField(f.name, f.dataType, True)
                            for f in schema.fields])
    out_schema = to_arrow_schema(relaxed)

    def fn(batches):
        for b in worker_batches(batches):
            if b.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([b])
            cols = {n: tbl.column(i).combine_chunks()
                    for i, n in enumerate(tbl.column_names)}
            arrs = [a.cast(out_schema.field(i).type)
                    for i, a in enumerate(rebuild_arrays(cols, schema))]
            yield pa.RecordBatch.from_arrays(arrs, schema=out_schema)

    return df.mapInArrow(fn, relaxed)
