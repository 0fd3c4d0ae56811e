"""Dictionary-page access, distinct-set pruning, and CRC bit-rot audit.

Reference parity: dictionary pages are independently readable ahead of the
code stream (layout/dictpage.go:74-152); checksum/verify is an
upgrade-over-reference hardening for archives (parquet-format defines page
CRCs; parquet-go's thrift schema carries the field).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from tokenc import codecs
from tokenc.chunk import chunk_dict_values, decode_chunk, encode_chunk


def _ba_parts(strings: list[bytes]):
    data = np.frombuffer(b"".join(strings), dtype=np.uint8)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    return data, offs


class TestChunkDictValues:
    def test_numeric_unpaged(self):
        vals = np.array([5, 7, 5, 5, 9, 7] * 10, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.DICT,
                               n_rows=vals.size, values=vals)
        got = chunk_dict_values(blob)
        assert got.tolist() == [5, 7, 9]

    def test_numeric_paged_and_compressed(self):
        rng = np.random.default_rng(7)
        vals = rng.integers(0, 50, size=200_000).astype(np.int32)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT32, codec=codecs.DICT,
                               n_rows=vals.size, values=vals,
                               compression="zstd", page_bytes=64 << 10)
        got = chunk_dict_values(blob)
        assert got.tolist() == sorted(set(vals.tolist()))
        # dictionary read agrees with the full decode
        full = decode_chunk(blob)
        assert sorted(set(full.values.tolist())) == got.tolist()

    def test_binary(self):
        strings = [b"RAIL", b"AIR", b"SHIP", b"AIR", b"RAIL"] * 8
        data, offs = _ba_parts(strings)
        blob, _ = encode_chunk(phys=codecs.PHYS_BYTE_ARRAY,
                               codec=codecs.DICT, n_rows=len(strings),
                               ba_data=data, ba_offsets=offs)
        assert chunk_dict_values(blob) == [b"AIR", b"RAIL", b"SHIP"]

    def test_non_dict_returns_none(self):
        vals = np.arange(100, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64,
                               codec=codecs.DELTA_BP,
                               n_rows=vals.size, values=vals)
        assert chunk_dict_values(blob) is None


class TestDictValuesProperties:
    """chunk_dict_values must agree with the full decode for ANY input."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @staticmethod
    def _dict_blob(vals, **kw):
        return encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.DICT,
                            n_rows=vals.size, values=vals, **kw)[0]

    @given(st.lists(st.integers(-2**40, 2**40), min_size=1, max_size=400),
           st.sampled_from([None, 64, 997]),
           st.sampled_from([None, "zstd"]))
    @settings(max_examples=60, deadline=None)
    def test_matches_full_decode(self, xs, page_rows, comp):
        vals = np.array(xs, dtype=np.int64)
        page_bytes = None if page_rows is None else page_rows * 8
        blob = self._dict_blob(vals, page_bytes=page_bytes, compression=comp)
        got = chunk_dict_values(blob)
        assert got.tolist() == sorted(set(xs))

    @given(st.lists(st.binary(min_size=0, max_size=20), min_size=1,
                    max_size=200))
    @settings(max_examples=40, deadline=None)
    def test_binary_matches_full_decode(self, xs):
        data, offs = _ba_parts(xs)
        blob, _ = encode_chunk(phys=codecs.PHYS_BYTE_ARRAY,
                               codec=codecs.DICT, n_rows=len(xs),
                               ba_data=data, ba_offsets=offs)
        assert chunk_dict_values(blob) == sorted(set(xs))

    @given(st.lists(st.integers(0, 1000), min_size=1, max_size=500),
           st.data())
    @settings(max_examples=40, deadline=None)
    def test_crc_catches_any_single_byte_flip(self, xs, data):
        import zlib

        vals = np.array(xs, dtype=np.int64)
        blob = self._dict_blob(vals)
        crc = zlib.crc32(blob)
        i = data.draw(self.st.integers(0, len(blob) - 1))
        flipped = blob[:i] + bytes([blob[i] ^ 0xFF]) + blob[i + 1:]
        assert zlib.crc32(flipped) != crc


@pytest.fixture(scope="module")
def enc_orders(spark):
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = [(i, pri[i % 5], float(i)) for i in range(4000)]
    src = (spark.createDataFrame(rows, "ok bigint, pri string, amt double")
           .repartition(5, "pri"))
    schema = to_arrow_schema(src.schema)
    specs = specs_from_arrow_schema(schema, distinct_columns=["pri"])
    enc = encode_df(src, specs, target_raw_bytes=32 << 10).cache()
    enc.count()
    return enc, specs, schema


class TestDistinctPruning:
    def test_distinct_json_recorded(self, spark, enc_orders):
        from pyspark.sql import functions as F

        enc, _, _ = enc_orders
        row = enc.select(F.col("pri_meta.distinct_json")).first()
        import json
        vals = json.loads(row[0])
        assert vals == sorted(vals) and 1 <= len(vals) <= 5
        # non-opt-in column records nothing
        assert enc.where(F.col("ok_meta.distinct_json").isNotNull()) \
                  .count() == 0

    def test_isin_prunes_and_is_exact(self, spark, enc_orders):
        import json

        from pyspark.sql import functions as F

        from tokenc.engine import decode_df, prune

        enc, specs, schema = enc_orders
        # auto_index off: min/max (every chunk spans "2-HIGH" lexically)
        # and the distinct overlap are the only keep conditions, so the
        # kept set is exactly the chunks whose distinct set holds the value
        holds = {r.rg_id for r in
                 enc.select("rg_id", "pri_meta.distinct_json").collect()
                 if "2-HIGH" in json.loads(r.distinct_json)}
        kept = prune(enc, specs, [("pri", "in", ["2-HIGH"])],
                     auto_index=False)
        assert {r.rg_id for r in kept.select("rg_id").collect()} == holds
        minmax = prune(enc, specs, [("pri", "between", ("2-HIGH", "2-HIGH"))],
                       auto_index=False)
        assert len(holds) < minmax.count()
        dec = decode_df(kept, specs, schema).where(F.col("pri") == "2-HIGH")
        assert dec.count() == 800

    def test_match_like_prunes_and_is_exact(self, spark, enc_orders):
        from pyspark.sql import functions as F

        from tokenc.engine import decode_df, prune

        enc, specs, schema = enc_orders
        total = enc.count()
        kept = prune(enc, specs, [("pri", "match", lambda x: x.like("5-%"))])
        assert kept.count() < total
        dec = decode_df(kept, specs, schema).where(F.col("pri").like("5-%"))
        assert dec.count() == 800

    def test_no_distinct_info_keeps_everything(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, prune
        from tokenc.schema import specs_from_arrow_schema

        # one chunk per partition, each spanning nearly all of 0..2999, so
        # min/max cannot disprove the absent probe 2000.5: only the
        # distinct-set term decides, and ok has no recorded distinct set
        src = (spark.range(3000).select(F.col("id").alias("ok"))
               .repartition(3, F.col("ok") % 3))
        specs = specs_from_arrow_schema(to_arrow_schema(src.schema))
        enc = encode_df(src, specs, target_raw_bytes=1 << 20).cache()
        man = enc.select(
            F.col("ok_meta.min_json").cast("double").alias("mn"),
            F.col("ok_meta.max_json").cast("double").alias("mx"),
            "ok_meta.distinct_json").collect()
        assert len(man) > 1
        assert all(r.mn < 2000.5 < r.mx and r.distinct_json is None
                   for r in man)
        kept = prune(enc, specs, [("ok", "in", [2000.5])], auto_index=False)
        assert kept.count() == len(man)

    def test_high_cardinality_opts_out(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df
        from tokenc.schema import specs_from_arrow_schema

        src = spark.range(2000).select(
            F.concat(F.lit("id-"), F.col("id")).alias("key"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema, distinct_columns=["key"])
        enc = encode_df(src, specs)
        assert enc.where(
            F.col("key_meta.distinct_json").isNotNull()).count() == 0


class TestCrcAudit:
    def test_clean_table_verifies(self, spark, enc_orders):
        from tokenc.engine import verify_table

        enc, specs, _ = enc_orders
        assert verify_table(enc, specs).count() == 0

    def test_crc_present_on_every_chunk(self, spark, enc_orders):
        from pyspark.sql import functions as F

        enc, specs, _ = enc_orders
        for s in specs:
            assert enc.where(
                F.col(f"{s.name}_meta.crc32").isNull()).count() == 0

    def test_local_mode_verify(self, tmp_path):
        import pyarrow.parquet as pq

        from tokenc import local

        tbl = pa.table({"k": pa.array(range(1000), pa.int64()),
                        "s": pa.array([f"v{i % 9}" for i in range(1000)])})
        out = str(tmp_path / "enc")
        local.write_table(tbl, out)
        assert local.verify(out) == []
        # corrupt one byte of one blob on disk
        f = next(str(p) for p in sorted((tmp_path / "enc").iterdir())
                 if p.name.endswith(".parquet"))
        enc = pq.read_table(f)
        blob = bytearray(enc["k_blob"][0].as_py())
        blob[-1] ^= 0xFF
        cols = {n: enc[n] for n in enc.column_names}
        cols["k_blob"] = pa.chunked_array(
            [pa.array([bytes(blob)] + enc["k_blob"].to_pylist()[1:],
                      pa.binary())])
        pq.write_table(pa.table(cols), f)
        bad = local.verify(out)
        assert [b["column"] for b in bad] == ["k"]

    def test_flipped_byte_is_caught(self, spark, enc_orders):
        from pyspark.sql import functions as F

        from tokenc.engine import verify_table

        enc, specs, _ = enc_orders
        n_chunks = enc.count()
        corrupted = enc.withColumn(
            "ok_blob", F.concat(F.col("ok_blob"), F.lit(b"\x00")))
        bad = verify_table(corrupted, specs)
        rows = bad.collect()
        assert len(rows) == n_chunks
        assert all(r.column == "ok" for r in rows)
        assert all(r.stored_crc != r.actual_crc for r in rows)
