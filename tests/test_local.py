"""In-process library mode (tokenc/local.py): no Spark, same format."""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pytest

from tokenc.local import read_table, write_table


@pytest.fixture()
def table():
    rng = np.random.default_rng(0)
    n = 5000
    lens = rng.integers(0, 40, n)
    offs = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    toks = pa.ListArray.from_arrays(
        pa.array(offs), pa.array(rng.integers(0, 50000, int(lens.sum()), dtype=np.int64).astype(np.int32)))
    return pa.table({
        "doc_id": pa.array([f"d{i:06d}" for i in range(n)]),
        "tokens": toks,
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(rng.choice(["web", "book", "code"], n)),
    })


class TestLocalMode:
    def test_roundtrip(self, tmp_path, table):
        specs = write_table(table, str(tmp_path / "enc"), target_raw_bytes=64 << 10)
        out = read_table(str(tmp_path / "enc"), specs)
        assert out.num_rows == table.num_rows
        for name in table.column_names:
            assert out[name].combine_chunks().equals(table[name].combine_chunks()), name

    def test_projection(self, tmp_path, table):
        specs = write_table(table, str(tmp_path / "enc"))
        out = read_table(str(tmp_path / "enc"), specs, columns=["doc_id", "n_tok"])
        assert out.column_names == ["doc_id", "n_tok"]
        assert out["n_tok"].combine_chunks().equals(table["n_tok"].combine_chunks())
        with pytest.raises(ValueError, match="unknown columns"):
            read_table(str(tmp_path / "enc"), specs, columns=["nope"])

    def test_offset_count(self, tmp_path, table):
        specs = write_table(table, str(tmp_path / "enc"), target_raw_bytes=16 << 10)
        win = read_table(str(tmp_path / "enc"), specs, columns=["doc_id"],
                         offset=123, count=77)
        want = table["doc_id"].combine_chunks().slice(123, 77)
        assert win["doc_id"].combine_chunks().equals(want)
        assert read_table(str(tmp_path / "enc"), specs, offset=10**6, count=5).num_rows == 0

    def test_spark_reads_local_output(self, spark, tmp_path, table):
        """Library writer ↔ Spark decoder interop (same format)."""
        from pyspark.sql import functions as F

        from tokenc.engine import decode_df

        specs = write_table(table, str(tmp_path / "enc"), target_raw_bytes=64 << 10)
        enc = spark.read.parquet(str(tmp_path / "enc"))
        dec = decode_df(enc.select(*[f"{s.name}_blob" for s in specs]),
                        specs, table.schema)
        got = dec.agg(F.count("*"), F.sum("n_tok")).collect()[0]
        assert got[0] == table.num_rows
        assert got[1] == int(np.asarray(table["n_tok"]).sum())


def _nested_table(n=600):
    rng = np.random.default_rng(7)
    ids = list(range(n))
    structs = pa.array(
        [None if i % 7 == 0 else
         {"a": int(i), "b": None if i % 3 == 0 else f"s{i}"}
         for i in ids],
        type=pa.struct([("a", pa.int64()), ("b", pa.string())]))
    maps = pa.array(
        [None if i % 11 == 0 else
         ({} if i % 5 == 0 else
          {"k": str(i), "n": None if i % 4 == 0 else "v"})
         for i in ids],
        type=pa.map_(pa.string(), pa.string()))
    return pa.table({"id": pa.array(ids, pa.int64()),
                     "s": structs, "m": maps})


class TestLocalNested:
    """In-process nested parity: struct/map columns shred and rebuild
    through the same decomposition as the Spark path (marshal/unmarshal
    analog, marshal/marshal.go:227-343)."""

    def test_struct_map_roundtrip(self, tmp_path):
        t = _nested_table()
        write_table(t, str(tmp_path / "enc"), target_raw_bytes=16 << 10)
        out = read_table(str(tmp_path / "enc"))  # specs-free: stored schema
        assert out.schema.equals(t.schema)
        for name in t.column_names:
            assert out[name].combine_chunks().equals(
                t[name].combine_chunks()), name

    def test_nested_projection_and_window(self, tmp_path):
        t = _nested_table()
        write_table(t, str(tmp_path / "enc"), target_raw_bytes=8 << 10)
        out = read_table(str(tmp_path / "enc"), columns=["m"],
                         offset=100, count=55)
        want = t["m"].combine_chunks().slice(100, 55)
        assert out.column_names == ["m"]
        assert out["m"].combine_chunks().equals(want)

    def test_deep_nested_roundtrip(self, tmp_path):
        ent = pa.struct([("n", pa.int64()),
                         ("tags", pa.map_(pa.string(), pa.int64()))])
        items = pa.array(
            [None if i % 6 == 0 else
             ([] if i % 6 == 1 else
              [{"n": i, "tags": {"a": i}},
               None if i % 3 == 0 else {"n": None, "tags": None}])
             for i in range(300)],
            type=pa.list_(ent))
        aaa = pa.array(
            [{0: None, 1: [], 2: [[1, 2], None, []], 3: [[i]]}[i % 4]
             for i in range(300)],
            type=pa.list_(pa.list_(pa.int64())))
        t = pa.table({"id": pa.array(range(300), pa.int64()),
                      "items": items, "aa": aaa})
        write_table(t, str(tmp_path / "enc"), target_raw_bytes=8 << 10)
        out = read_table(str(tmp_path / "enc"))
        for name in t.column_names:
            assert out[name].combine_chunks().equals(
                t[name].combine_chunks()), name

    def test_flat_specs_free_read(self, tmp_path, table):
        write_table(table, str(tmp_path / "enc"))
        out = read_table(str(tmp_path / "enc"))
        assert out["doc_id"].combine_chunks().equals(
            table["doc_id"].combine_chunks())


class TestNestedPropertyRoundtrip:
    """Property test over RANDOM nested schemas (depth ≤ 3, every composite
    combinator) and random data with nulls at every level — the in-process
    path exercises the same shred decomposition + chunk format as Spark."""

    PRIMS = [
        (pa.int32(), lambda r, i: int(r.integers(-1000, 1000))),
        (pa.int64(), lambda r, i: int(r.integers(-10**12, 10**12))),
        (pa.float64(), lambda r, i: float(r.normal())),
        (pa.string(), lambda r, i: "s" * int(r.integers(0, 6)) + str(i)),
        (pa.bool_(), lambda r, i: bool(r.integers(0, 2))),
    ]

    def _rand_type(self, r, depth):
        kind = r.integers(0, 4 if depth > 0 else 1)
        if kind == 0 or depth == 0:
            t, g = self.PRIMS[int(r.integers(0, len(self.PRIMS)))]
            return t, g
        if kind == 1:  # struct
            n = int(r.integers(1, 4))
            fields, gens = [], []
            for j in range(n):
                t, g = self._rand_type(r, depth - 1)
                fields.append(pa.field(f"f{j}", t))
                gens.append(g)

            def gen(r, i, gens=gens, n=n):
                if r.random() < 0.15:
                    return None
                return {f"f{j}": (None if r.random() < 0.15 else gens[j](r, i))
                        for j in range(n)}
            return pa.struct(fields), gen
        if kind == 2:  # list
            t, g = self._rand_type(r, depth - 1)

            def gen(r, i, g=g):
                if r.random() < 0.15:
                    return None
                return [None if r.random() < 0.1 else g(r, i + k)
                        for k in range(int(r.integers(0, 4)))]
            return pa.list_(t), gen
        # map
        t, g = self._rand_type(r, depth - 1)

        def gen(r, i, g=g):
            if r.random() < 0.15:
                return None
            return {f"k{k}": (None if r.random() < 0.1 else g(r, i + k))
                    for k in range(int(r.integers(0, 3)))}
        return pa.map_(pa.string(), t), gen

    def test_random_nested_schemas_roundtrip(self, tmp_path):
        rng = np.random.default_rng(2024)
        for case in range(12):
            t, gen = self._rand_type(rng, depth=3)
            rows = [gen(rng, i) for i in range(150)]
            try:
                col = pa.array(rows, type=t)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                continue  # ill-formed random payload; schema gen retries
            tbl = pa.table({"id": pa.array(range(150), pa.int64()),
                            "x": col})
            d = str(tmp_path / f"case{case}")
            write_table(tbl, d, target_raw_bytes=4 << 10)
            out = read_table(d)
            assert out["x"].combine_chunks().equals(
                tbl["x"].combine_chunks()), (case, t)


class TestEnumBsonLogicalTypes:
    """Reference ENUM (dict-coded BYTE_ARRAY) and BSON (opaque bytes)
    converted types (common/common.go:330-525): ENUM arrives as an Arrow
    dictionary column — spec'd as its VALUE type, the engine re-derives
    its own dictionary via the selector — and BSON as a plain binary
    column that must roundtrip byte-identical (no UTF-8 assumptions)."""

    def test_enum_dictionary_input_roundtrips(self, tmp_path):
        import numpy as np
        import pyarrow as pa

        from tokenc.local import read_table, write_table

        rng = np.random.default_rng(3)
        states = ["NEW", "OPEN", "CLOSED", "HELD"]
        idx = rng.integers(0, 4, 5000)
        enum_col = pa.DictionaryArray.from_arrays(
            pa.array(idx, pa.int32()), pa.array(states))
        t = pa.table({"k": pa.array(np.arange(5000, dtype=np.int64)),
                      "state": enum_col})
        d = str(tmp_path / "enum")
        specs = write_table(t, d)
        got = read_table(d)
        assert got.column("state").to_pylist() == [states[i] for i in idx]
        spec = next(s for s in specs if s.name == "state")
        from tokenc import codecs
        assert spec.phys == codecs.PHYS_BYTE_ARRAY  # value type, not codes

    def test_bson_opaque_binary_roundtrips(self, tmp_path):
        import numpy as np
        import pyarrow as pa

        from tokenc.local import read_table, write_table

        rng = np.random.default_rng(4)
        # arbitrary non-UTF8 byte blobs, incl. empty and NUL-laden
        blobs = [bytes(rng.integers(0, 256, rng.integers(0, 64),
                                    dtype=np.uint8).tobytes())
                 for _ in range(2000)] + [b"", b"\x00" * 9]
        t = pa.table({"doc": pa.array(blobs, pa.binary())})
        d = str(tmp_path / "bson")
        write_table(t, d)
        got = read_table(d).column("doc").to_pylist()
        assert got == blobs


# leaf kind → (Arrow type, n random non-null Python values); every kind
# goes through the one leaf conversion, as a column and (where the schema
# accepts it) as a list element
def _leaf_values(kind: str, rng, n: int):
    from decimal import Decimal

    words = [f"w{x}" for x in rng.integers(0, 40, n)]
    blobs = [bytes(rng.integers(0, 256, k, dtype=np.uint8)) + b"\x00"
             for k in rng.integers(0, 12, n)]  # NUL-laden, non-UTF-8
    return {
        "int32": (pa.int32(), rng.integers(-2**31, 2**31, n).tolist()),
        "int64": (pa.int64(), rng.integers(-2**62, 2**62, n).tolist()),
        "float32": (pa.float32(),
                    rng.standard_normal(n).astype(np.float32).tolist()),
        "float64": (pa.float64(), rng.standard_normal(n).tolist()),
        "bool": (pa.bool_(), (rng.random(n) < 0.5).tolist()),
        "string": (pa.string(), words),
        "large_string": (pa.large_string(), words),
        "binary": (pa.binary(), blobs),
        "large_binary": (pa.large_binary(), blobs),
        "fsb16": (pa.binary(16), [rng.bytes(16) for _ in range(n)]),
        "decimal12": (pa.decimal128(12, 2),
                      [Decimal(int(x)).scaleb(-2)
                       for x in rng.integers(-10**11, 10**11, n)]),
        # negative values whose unscaled form needs all 128 bits' sign
        "decimal38": (pa.decimal128(38, 0),
                      [Decimal(-int(x) * 10**22)
                       for x in rng.integers(1, 10**15, n)]),
        "date32": (pa.date32(), rng.integers(-1000, 20000, n).tolist()),
        "timestamp": (pa.timestamp("us"),
                      rng.integers(-2**40, 2**50, n).tolist()),
        "dictionary": (pa.dictionary(pa.int32(), pa.string()), words),
    }[kind]


_SCALAR_KINDS = ["int32", "int64", "float32", "float64", "bool", "string",
                 "large_string", "binary", "large_binary", "fsb16",
                 "decimal12", "decimal38", "date32", "timestamp",
                 "dictionary"]
_LIST_KINDS = ["int32", "int64", "float64", "bool", "string", "binary",
               "large_string", "decimal12", "date32", "timestamp"]
_LEAF_CASES = (
    [pytest.param(k, "scalar", nl, id=f"{k}-{nl}")
     for k in _SCALAR_KINDS for nl in ("none", "rows")]
    + [pytest.param(k, shape, nl, id=f"{shape}<{k}>-{nl}")
       for shape, kinds in (("list", _LIST_KINDS), ("large_list", ["int32"]))
       for k in kinds for nl in ("none", "rows", "elems", "rows+elems")])


def _decoded_type(t: pa.DataType) -> pa.DataType:
    """Dictionary types as their value type: read_table rebuilds a
    dictionary column from its values, so its dictionary holds only the
    values left after a slice and equality is checked on the values."""
    return t.value_type if pa.types.is_dictionary(t) else t


class TestLeafRoundTrip:
    """write_table → read_table over leaf type × list shape × nulls ×
    slice offset. Null list rows keep a non-empty offset span underneath
    (the mask of ListArray.from_arrays), so the extract must skip their
    elements rather than read them."""

    @pytest.mark.parametrize("offset", [0, 37])
    @pytest.mark.parametrize("kind,shape,nulls", _LEAF_CASES)
    def test_roundtrip(self, tmp_path, kind, shape, nulls, offset):
        rng = np.random.default_rng(zlib.crc32(f"{kind}{shape}{nulls}".encode()))
        n = 400
        row_null = (rng.random(n) < 0.2) if "rows" in nulls else None
        if shape == "scalar":
            t, vals = _leaf_values(kind, rng, n)
            if row_null is not None:
                vals = [None if m else v for v, m in zip(vals, row_null)]
            if pa.types.is_dictionary(t):
                col = pa.array(vals, t.value_type).dictionary_encode()
            else:
                col = pa.array(vals, t)
        else:
            lens = rng.integers(0, 7, n)
            offs = np.zeros(n + 1, np.int64)
            np.cumsum(lens, out=offs[1:])
            t, vals = _leaf_values(kind, rng, int(offs[-1]))
            if "elems" in nulls:
                vals = [None if m else v for v, m in
                        zip(vals, rng.random(len(vals)) < 0.15)]
            mask = None if row_null is None else pa.array(row_null)
            if shape == "large_list":
                col = pa.LargeListArray.from_arrays(
                    pa.array(offs), pa.array(vals, t), mask=mask)
            else:
                col = pa.ListArray.from_arrays(
                    pa.array(offs.astype(np.int32)), pa.array(vals, t),
                    mask=mask)
            if row_null is not None:  # masked rows still span elements
                assert (np.diff(offs)[row_null] > 0).any()
        src = pa.table({"c": col, "k": pa.array(np.arange(n))}).slice(offset)
        d = str(tmp_path / "t")
        write_table(src, d)
        got = read_table(d)
        assert got.schema == src.schema
        dense = pa.schema([pa.field(f.name, _decoded_type(f.type))
                           for f in src.schema])
        assert got.cast(dense).equals(src.cast(dense))
        if dense == src.schema:
            assert got.equals(src)
