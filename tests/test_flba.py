"""FLBA (fixed-size binary) logical types — UUID(16)/INTERVAL(12) — and
dictionary-encoded (ENUM-style) Arrow input.

Reference parity: PLAIN FLBA (encoding/encodingwrite.go:123-130), the
UUID/INTERVAL/ENUM converted types (common/common.go:330-525). FLBA rides
the generic byte_array machinery with constant stride; dictionary input is
densified on extract (the engine's selector re-derives its own dictionary).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokenc.local import read_table, write_table
from tokenc.schema import specs_from_arrow_schema
from tokenc import codecs


def _fsb_column(n: int, width: int, *, nulls: bool, seed: int = 7) -> pa.Array:
    rng = np.random.default_rng(seed)
    raw = rng.integers(0, 256, size=(n, width), dtype=np.uint8)
    raw[::5] = raw[0]  # repeats → dictionary-friendly
    if not nulls:
        return pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(width), n, [None, pa.py_buffer(raw.tobytes())])
    mask = np.arange(n) % 11 == 0
    return pa.array([None if m else v.tobytes() for v, m in zip(raw, mask)],
                    type=pa.binary(width))


class TestFLBA:
    def test_specs(self):
        specs = specs_from_arrow_schema(pa.schema([("u", pa.binary(16))]))
        assert specs[0].phys == codecs.PHYS_BYTE_ARRAY
        assert specs[0].arrow_type == pa.binary(16)

    @pytest.mark.parametrize("width", [12, 16])
    @pytest.mark.parametrize("nulls", [False, True])
    def test_roundtrip(self, tmp_path, width, nulls):
        tbl = pa.table({"u": _fsb_column(4000, width, nulls=nulls)})
        write_table(tbl, str(tmp_path / "t"))
        out = read_table(str(tmp_path / "t"))
        assert out.schema.field("u").type == pa.binary(width)
        assert out.equals(tbl)

    def test_all_null_and_empty(self, tmp_path):
        tbl = pa.table({"u": pa.array([None] * 100, type=pa.binary(16))})
        write_table(tbl, str(tmp_path / "an"))
        assert read_table(str(tmp_path / "an")).equals(tbl)
        empty = pa.table({"u": pa.array([], type=pa.binary(16))})
        write_table(empty, str(tmp_path / "e"))
        assert read_table(str(tmp_path / "e")).equals(empty)

    def test_sliced_input(self, tmp_path):
        base = _fsb_column(4000, 16, nulls=True)
        tbl = pa.table({"u": base.slice(37, 1111)})
        write_table(tbl, str(tmp_path / "s"))
        # read_table returns offset-0 arrays; compare values
        got = read_table(str(tmp_path / "s")).column("u").combine_chunks()
        assert got.to_pylist() == base.slice(37, 1111).to_pylist()

    def test_stats_lexicographic(self, tmp_path):
        import json

        from tokenc.chunk import encode_chunk
        from tokenc.engine import _extract

        # valid-UTF-8 fixed-width values: exact lexicographic stats
        rng = np.random.default_rng(7)
        vals_ascii = ["".join(chr(c) for c in rng.integers(48, 122, 16))
                      .encode() for _ in range(1000)]
        arr = pa.array(vals_ascii, type=pa.binary(16))
        cd = _extract(arr, specs_from_arrow_schema(
            pa.schema([("u", pa.binary(16))]))[0])
        _, st = encode_chunk(phys=codecs.PHYS_BYTE_ARRAY, codec=codecs.PLAIN,
                             n_rows=1000,
                             ba_data=cd["ba_data"], ba_offsets=cd["ba_offsets"])
        svals = sorted(vals_ascii)
        assert st.min_val == svals[0] and st.max_val == svals[-1]

        # raw random binary (invalid UTF-8): stats are intentionally
        # ABSENT — the utf-8-replace JSON they travel in cannot carry a
        # sound byte-order bound (chunks are kept, never pruned; blooms
        # and distinct lists still serve point lookups)
        arr = _fsb_column(1000, 16, nulls=False)
        cd = _extract(arr, specs_from_arrow_schema(
            pa.schema([("u", pa.binary(16))]))[0])
        _, st = encode_chunk(phys=codecs.PHYS_BYTE_ARRAY, codec=codecs.PLAIN,
                             n_rows=1000,
                             ba_data=cd["ba_data"], ba_offsets=cd["ba_offsets"])
        assert st.min_val is None and st.max_val is None

    def test_encode_files_over_flba_parquet(self, spark, tmp_path):
        """Production shape: a parquet data file whose column IS FLBA
        (e.g. written by the reference for a UUID field) flows through the
        file-granular encode/decode path unchanged."""
        from tokenc.files import decode_files, encode_files

        arr = _fsb_column(6000, 16, nulls=True, seed=3)
        tbl = pa.table({"u": arr})
        src = tmp_path / "src"
        src.mkdir()
        pq.write_table(tbl, str(src / "part-0.parquet"))
        specs = specs_from_arrow_schema(tbl.schema)
        enc = encode_files(spark, str(src), specs, target_raw_bytes=1 << 16)
        enc_dir = tmp_path / "enc"
        enc.write.mode("overwrite").parquet(str(enc_dir))
        out = decode_files(spark, str(enc_dir), specs, tbl.schema).toPandas()
        got = [None if v is None else bytes(v) for v in out["u"]]
        want = arr.to_pylist()
        keyf = lambda x: (x is None, x or b"")
        assert sorted(got, key=keyf) == sorted(want, key=keyf)


class TestDictionaryInput:
    def test_string_dictionary(self, tmp_path):
        vals = (["alpha", "beta", "gamma", None] * 500)[:1999]
        tbl = pa.table({"c": pa.array(vals).dictionary_encode()})
        write_table(tbl, str(tmp_path / "d"))
        out = read_table(str(tmp_path / "d"))
        # dict encoding is an input representation: reads back as values
        assert out.column("c").to_pylist() == vals

    def test_int_dictionary(self, tmp_path):
        vals = pa.array(([7, 11, 13] * 700)[:2000], type=pa.int32())
        tbl = pa.table({"c": vals.dictionary_encode()})
        write_table(tbl, str(tmp_path / "di"))
        # the stored schema's dictionary type comes back, same values
        col = read_table(str(tmp_path / "di")).column("c").combine_chunks()
        assert col.type == tbl.schema.field("c").type
        assert col.dictionary_decode().equals(vals)


def _chunk_roundtrip(arr: pa.Array, spec) -> pa.Array:
    from tokenc.chunk import decode_chunk, encode_chunk
    from tokenc.engine import _extract, _rebuild

    blob, _ = encode_chunk(phys=spec.phys, codec=codecs.PLAIN,
                           n_rows=len(arr), **_extract(arr, spec))
    return _rebuild(decode_chunk(blob), spec)


class TestFLBAFromBinary:
    """Spark hands a Parquet FLBA column to encode_df as plain binary: the
    leaf conversion casts it to the spec's fixed width first."""

    SPEC = specs_from_arrow_schema(pa.schema([("u", pa.binary(2))]))[0]

    def test_binary_input_roundtrips(self):
        arr = pa.array([b"ab", None, b"cd", b"ef"], pa.binary())
        out = _chunk_roundtrip(arr, self.SPEC)
        assert out.type == pa.binary(2)
        assert out.to_pylist() == [b"ab", None, b"cd", b"ef"]

    def test_width_mismatch_names_column(self):
        with pytest.raises(ValueError, match="'u'"):
            _chunk_roundtrip(pa.array([b"ab", b"cde"], pa.binary()),
                             self.SPEC)


N_PARITY = 3000


@pytest.fixture(scope="module")
def parity_src(tmp_path_factory):
    """A pyarrow-written Parquet source with an FLBA, a decimal(38,0), a
    list<int32> and a string column (the string a sorted unique key)."""
    from decimal import Decimal

    rng = np.random.default_rng(11)
    n = N_PARITY
    dec = [None if i % 13 == 0 else
           Decimal(int(v) * 10 ** 20 + i) * (-1 if i % 3 else 1)
           for i, v in enumerate(rng.integers(0, 10 ** 6, n))]
    toks = [rng.integers(0, 1000, int(k)).astype(np.int32).tolist()
            for k in rng.integers(0, 40, n)]
    tbl = pa.table({
        "u": _fsb_column(n, 16, nulls=True, seed=5),
        "d": pa.array(dec, pa.decimal128(38, 0)),
        "t": pa.array(toks, pa.list_(pa.int32())),
        "s": pa.array([f"s{i:05d}" for i in range(n)]),
    })
    d = tmp_path_factory.mktemp("flba_parity")
    path = str(d / "src.parquet")
    pq.write_table(tbl, path, row_group_size=n)
    return d, path, tbl


def _values(tbl: pa.Table) -> list[tuple]:
    """Rows as Python values in key order; FLBA compares as its bytes."""
    cols = [tbl.column(c).to_pylist() for c in ("s", "u", "d", "t")]
    return sorted(zip(*cols))


@pytest.mark.parametrize("encoder", ["encode_df", "encode_files"])
def test_every_decode_frontend_returns_source_bytes(spark, parity_src,
                                                    encoder, monkeypatch):
    """FLBA, decimal(38,0), list and string columns encoded by either
    Spark encoder come back bit for bit from every Spark decode frontend,
    the FLBA column as binary."""
    import io
    from contextlib import redirect_stdout

    import tokenc.engine as eng
    from tokenc.files import decode_files, encode_files

    d, path, tbl = parity_src
    schema = pq.read_schema(path)
    specs = specs_from_arrow_schema(schema)
    if encoder == "encode_df":
        enc = eng.encode_df(spark.read.parquet(path), specs,
                            target_raw_bytes=32 << 10)
    else:
        enc = encode_files(spark, path, specs, target_raw_bytes=32 << 10)
    enc_dir = str(d / encoder)
    enc.write.mode("overwrite").parquet(enc_dir)
    enc = spark.read.parquet(enc_dir).cache()
    assert enc.count() > 2 * eng.DECODE_GROUPS

    want = _values(tbl)
    keys = [f"s{i:05d}" for i in range(0, N_PARITY, 97)]
    want_get = [r for r in want if r[0] in set(keys)]
    decoded = {
        "decode_df": (eng.decode_df(enc, specs, schema), want),
        "decode_files": (decode_files(spark, enc_dir, specs, schema), want),
        "read_range": (eng.read_range(enc, specs, schema, 0, N_PARITY), want),
    }
    for path_name, budget in (("driver", eng.DECODE_BATCH_BYTES),
                              ("task", -1)):
        monkeypatch.setattr(eng, "DECODE_BATCH_BYTES", budget)
        sc = eng.scan(enc, specs, schema, [("s", ">=", "s")])
        gt = eng.get(enc, specs, schema, "s", keys)
        for df in (sc, gt):
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain()
            plan = buf.getvalue()
            assert ("MapInArrow" in plan) == (path_name == "task"), plan
        decoded[f"scan_{path_name}"] = (sc, want)
        decoded[f"get_{path_name}"] = (gt, want_get)
    for name, (df, expect) in decoded.items():
        out = df.toArrow()
        assert out.schema.field("u").type == pa.binary(), name
        assert _values(out) == expect, name
