"""End-to-end Spark encode→decode bit-identity (the north-rule gate).

Pattern mirrors the reference's write→read roundtrip tests
(/root/reference/writer/writer_test.go, writer/arrow_test.go:20-43): encode
the tokens table, decode it back, assert per-row token-array equality.
"""

from __future__ import annotations

import numpy as np
import pytest

from tokenc import codecs
from tokenc.datagen import TOKENS_ARROW_SCHEMA, synth_tokens_df, tokens_from_documents
from tokenc.engine import decode_df, encode_df
from tokenc.schema import ColumnSpec, specs_from_arrow_schema

SF_DIR = "/root/testdata/sf0.001"

SPECS = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)


def _assert_same(df_a, df_b, key="doc_id"):
    pa_ = df_a.orderBy(key).toPandas()
    pb_ = df_b.orderBy(key).toPandas()
    assert list(pa_.columns) == list(pb_.columns)
    assert len(pa_) == len(pb_)
    for c in pa_.columns:
        va, vb = pa_[c].values, pb_[c].values
        if len(va) and isinstance(va[0], np.ndarray):
            for x, y in zip(va, vb):
                np.testing.assert_array_equal(x, y)
        else:
            assert (va == vb).all(), c


class TestEncodeDecodeRoundtrip:
    def test_documents_tokens_bit_identity(self, spark):
        src = tokens_from_documents(spark, SF_DIR).cache()
        enc = encode_df(src, SPECS, target_raw_bytes=64 << 10)
        dec = decode_df(enc, SPECS, TOKENS_ARROW_SCHEMA)
        _assert_same(src, dec)

    def test_synth_tokens_bit_identity(self, spark):
        src = synth_tokens_df(spark, 800, seed=7, mean_tokens=96, partitions=4).cache()
        assert src.count() == 800
        enc = encode_df(src, SPECS, target_raw_bytes=128 << 10).cache()
        # multiple row groups must exist (sizing works)
        assert enc.count() > 1
        dec = decode_df(enc, SPECS, TOKENS_ARROW_SCHEMA)
        _assert_same(src, dec)

    def test_compression_beats_raw(self, spark, tmp_path):
        """Final artifact (blob parquet, zstd container) must be well under
        raw. The PAYLOAD may legitimately be near-raw: the container-aware
        selector picks PLAIN when raw bytes + container zstd compress
        better than a bit-packed stream (packing destroys zstd's byte-level
        matches), so size is asserted where it is actually paid — on disk."""
        import os

        import pyspark.sql.functions as F

        src = synth_tokens_df(spark, 2000, seed=1, mean_tokens=128, partitions=2)
        enc = encode_df(src, SPECS)
        out = str(tmp_path / "enc")
        enc.write.mode("overwrite").parquet(out)
        raw = enc.select(F.sum("tokens_meta.raw_bytes")).collect()[0][0]
        disk = sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(out) for f in fs if f.endswith(".parquet"))
        assert disk < raw * 0.75, (disk, raw)

    def test_nulls_and_empty_lists(self, spark):
        import pandas as pd

        rows = [
            ("a", [1, 2, 3], 3, "s1"),
            ("b", None, None, "s2"),
            ("c", [], 0, None),
            ("d", [2**31 - 1, -2**31, 0], 3, "s1"),
            ("e", None, None, None),
        ] * 20
        from tokenc.engine import from_arrow_schema

        src = spark.createDataFrame(rows, from_arrow_schema(TOKENS_ARROW_SCHEMA)).coalesce(1).cache()
        enc = encode_df(src, SPECS)
        dec = decode_df(enc, SPECS, TOKENS_ARROW_SCHEMA)
        a = src.orderBy("doc_id").toPandas()
        b = dec.orderBy("doc_id").toPandas()
        for c in a.columns:
            for x, y in zip(a[c].values, b[c].values):
                if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
                    assert (x is not None) == (y is not None)
                    np.testing.assert_array_equal(x, y)
                else:
                    assert (x == y) or (pd.isna(x) and pd.isna(y)), (c, x, y)

    def test_forced_codec_override(self, spark):
        import pyspark.sql.functions as F

        specs = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA,
                                        codec_overrides={"tokens": "plain", "doc_id": "fsst"})
        src = synth_tokens_df(spark, 300, seed=3, mean_tokens=64, partitions=2)
        enc = encode_df(src, specs)
        row = enc.select("tokens_meta.codec", "doc_id_meta.codec").first()
        assert row[0] == "plain" and row[1] == "fsst"
        dec = decode_df(enc, specs, TOKENS_ARROW_SCHEMA)
        assert dec.count() == 300


class TestReadRange:
    """SkipRows/ReadByNumber analog (reader/reader.go:179-253): decode only
    rows [offset, offset+count) in (rg_part, rg_idx) order; interior row
    groups outside the window are pruned on manifest counts, never decoded."""

    def _ordered_enc(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        src = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
               .select("l_orderkey", "l_linenumber")
               .repartitionByRange(4, "l_orderkey", "l_linenumber")
               .sortWithinPartitions("l_orderkey", "l_linenumber"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=8 << 10).cache()
        return src, enc, specs, schema

    def test_range_matches_global_order(self, spark):
        from tokenc.engine import read_range

        src, enc, specs, schema = self._ordered_enc(spark)
        expect = src.orderBy("l_orderkey", "l_linenumber").toPandas()
        n = len(expect)
        for off, cnt in [(0, 10), (17, 500), (n - 7, 7), (n - 7, 50), (0, n)]:
            got = (read_range(enc, specs, schema, off, cnt)
                   .orderBy("l_orderkey", "l_linenumber").toPandas())
            want = expect.iloc[off:off + cnt].reset_index(drop=True)
            assert got.equals(want), (off, cnt, len(got), len(want))

    def test_range_prunes_rowgroups(self, spark):
        from tokenc.engine import read_range

        _, enc, specs, schema = self._ordered_enc(spark)
        n_rg = enc.count()
        # repartitionByRange's boundary sample (seeded by session-history-
        # dependent RDD ids) skews partition sizes a little, so the exact
        # row-group count wobbles (7-9 here); the pruning property only
        # needs several groups for a 10-row window to be selective over
        assert n_rg >= 5, "need multiple row groups for a pruning test"
        # a 10-row window can touch at most 2 row groups
        plan = read_range(enc, specs, schema, 100, 10)
        assert plan.count() == 10

    def test_empty_and_overrun(self, spark):
        from tokenc.engine import read_range

        src, enc, specs, schema = self._ordered_enc(spark)
        n = src.count()
        assert read_range(enc, specs, schema, n + 5, 10).count() == 0
        assert read_range(enc, specs, schema, n - 3, 100).count() == 3


class TestLogicalTypes:
    """Reference DATE/TIME/TIMESTAMP converted types over INT32/INT64
    (common/common.go:330-525, types/converter.go:11-112): stored as the
    epoch integer, decoded back to the original Arrow/Spark type."""

    def test_timestamp_roundtrip(self, spark):
        from pyspark.sql.pandas.types import to_arrow_schema

        src = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
            .select("l_orderkey", "l_shipdate")
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        assert specs[1].arrow_type is not None
        enc = encode_df(src, specs, target_raw_bytes=256 << 10)
        dec = decode_df(enc, specs, schema)
        a = src.orderBy("l_orderkey", "l_shipdate").toPandas()
        b = dec.orderBy("l_orderkey", "l_shipdate").toPandas()
        assert a.equals(b)
        assert str(b["l_shipdate"].dtype).startswith("datetime64")

    def test_date_and_nulls_roundtrip(self, spark):
        import datetime as dt

        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [(dt.date(2020, 1, 1),), (None,), (dt.date(1969, 12, 31),),
                (dt.date(2262, 4, 11),)]
        src = spark.createDataFrame(rows, "d date")
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        dec = decode_df(encode_df(src.coalesce(1), specs), specs, schema)
        got = sorted(dec.toPandas()["d"].tolist(), key=lambda x: (x is None, str(x)))
        want = sorted([r[0] for r in rows], key=lambda x: (x is None, str(x)))
        assert str(got) == str(want)

    def test_decimal_roundtrip(self, spark):
        from decimal import Decimal

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        src = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
               .select("l_orderkey",
                       F.col("l_extendedprice").cast("decimal(14,2)").alias("price")))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=256 << 10)
        dec = decode_df(enc, specs, schema)
        a = src.orderBy("l_orderkey", "price").toPandas()
        b = dec.orderBy("l_orderkey", "price").toPandas()
        assert a.equals(b)
        assert isinstance(b["price"].iloc[0], Decimal)

    def test_decimal_negative_and_null(self, spark):
        from decimal import Decimal

        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [(Decimal("-12345.67"),), (None,), (Decimal("0.01",),),
                (Decimal("9999999999.99"),), (Decimal("-0.01"),)]
        src = spark.createDataFrame(rows, "v decimal(12,2)")
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        dec = decode_df(encode_df(src.coalesce(1), specs), specs, schema)
        got = sorted((str(r["v"]) for r in dec.collect()))
        want = sorted(str(r[0]) for r in rows)
        assert got == want

    def test_decimal_wide_maps_to_flba(self, spark):
        import pyarrow as pa

        from tokenc import codecs

        (spec,) = specs_from_arrow_schema(
            pa.schema([pa.field("x", pa.decimal128(25, 4))]))
        assert spec.phys == codecs.PHYS_BYTE_ARRAY  # FLBA(16) big-endian
        assert spec.omit_stats  # byte order != numeric order across signs


class TestDegenerateShapes:
    """Reference writer_test.go: all-null column (:79-126) and zero rows
    (:145-174) through the full Spark encode→decode path."""

    def test_all_null_column(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        src = (spark.range(500)
               .select(F.col("id").cast("int").alias("k"),
                       F.lit(None).cast("int").alias("v"),
                       F.lit(None).cast("string").alias("s")))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        dec = decode_df(encode_df(src, specs, target_raw_bytes=4 << 10),
                        specs, schema)
        p = dec.orderBy("k").toPandas()
        assert len(p) == 500
        assert p["v"].isna().all() and p["s"].isna().all()
        assert p["k"].tolist() == list(range(500))

    def test_zero_rows(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        src = spark.range(100).select(
            F.col("id").cast("int").alias("k")).where("k < 0")
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs)
        assert enc.count() == 0
        dec = decode_df(enc, specs, schema)
        assert dec.count() == 0 and dec.schema.fieldNames() == ["k"]

    def test_bool_column(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        src = spark.range(3000).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 7 < 3).alias("flag"),
            F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") % 2 == 0).alias("opt"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        dec = decode_df(encode_df(src, specs, target_raw_bytes=8 << 10), specs, schema)
        a = src.orderBy("k").toPandas()
        b = dec.orderBy("k").toPandas()
        assert a.equals(b)


class TestReadRangeDivergence:
    """read_range runs two actions (manifest collect, decode); each decoded
    group's content key must match the one the manifest pass saw. The
    encoded table is served from a file-selected version, so a test can
    swap what the second action materializes."""

    def _swapped(self, spark, tmp_path, a, b, schema_of):
        version = tmp_path / "version"
        version.write_text("a")
        tables = {"a": a, "b": b}

        def serve(batches):
            # the encoded table as the file names it: A, or the swapped-in B
            for _ in batches:
                pass
            yield from tables[version.read_text()].to_batches()

        enc = spark.range(1, numPartitions=1).mapInArrow(serve, schema_of)
        return enc, version

    def test_same_count_different_content_raises(self, spark, tmp_path):
        """A group that re-materializes between the two actions with the
        SAME row count but different rows must raise, not decode a
        silently wrong slice."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema
        from tokenc.engine import read_range

        src = spark.range(4000, numPartitions=1).select(F.col("id").alias("k"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc_a = encode_df(src, specs, target_raw_bytes=8 << 10)
        a = enc_a.toArrow()
        b = encode_df(src.select((F.col("k") + 1).alias("k")), specs,
                      target_raw_bytes=8 << 10).toArrow()
        assert a["n_rows"].to_pylist() == b["n_rows"].to_pylist()
        assert a.num_rows > 2
        enc, version = self._swapped(spark, tmp_path, a, b, enc_a.schema)
        out = read_range(enc, specs, schema, 100, 3000)
        assert out.count() == 3000
        out = read_range(enc, specs, schema, 100, 3000)
        version.write_text("b")
        with pytest.raises(Exception) as err:
            out.collect()
        assert "re-materialized" in str(err.value)

    def test_same_rows_other_codecs_reads(self, spark, tmp_path):
        """An unpersisted encode of a deterministic source may pick other
        codecs on the decode action (the selector memo is per worker), so
        the same rows come back under a different blob-hash rg_id. That is
        not a divergence: read_range must return the right slice."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema
        from tokenc.engine import read_range

        src = spark.range(4000, numPartitions=1).select(F.col("id").alias("k"))
        schema = to_arrow_schema(src.schema)

        def enc_with(codec):
            specs = specs_from_arrow_schema(schema,
                                            codec_overrides={"k": codec})
            return encode_df(src, specs, target_raw_bytes=8 << 10)

        enc_a = enc_with("plain")
        a, b = enc_a.toArrow(), enc_with("delta_bp").toArrow()
        assert a["rg_id"].to_pylist() != b["rg_id"].to_pylist()
        assert a.num_rows > 2
        specs = specs_from_arrow_schema(schema)
        enc, version = self._swapped(spark, tmp_path, a, b, enc_a.schema)
        out = read_range(enc, specs, schema, 100, 3000)
        version.write_text("b")
        got = out.orderBy("k").toPandas()["k"].tolist()
        assert got == list(range(100, 3100))

    def test_unpersisted_deterministic_encode_reads(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema
        from tokenc.engine import read_range

        src = (spark.range(6000, numPartitions=3)
               .select(F.col("id").alias("k"),
                       (F.col("id") % 7).cast("string").alias("s")))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=8 << 10)
        got = read_range(enc, specs, schema, 1500, 3000).orderBy("k") \
            .toPandas()["k"].tolist()
        assert got == list(range(1500, 4500))


class TestReadRangePredicateShape:
    def test_no_in_list_in_plan(self, spark):
        """read_range prunes with ONE range predicate on the composite key,
        not a per-row-group isin() — O(1) expression size at any manifest
        cardinality (a 100-TB table has millions of row groups)."""
        import io
        from contextlib import redirect_stdout

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema
        from tokenc.engine import read_range

        src = (spark.range(200_000)
               .select(F.col("id").alias("k"))
               .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=8 << 10).cache()
        assert enc.count() > 100  # many row groups
        out = read_range(enc, specs, schema, 1000, 150_000)  # wide range
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain(True)
        plan = buf.getvalue()
        assert " IN (" not in plan and "isin" not in plan
        assert out.count() == 150_000
        enc.unpersist()


class TestDecodeFiltered:
    def test_page_pruned_predicate_scan(self, spark):
        """A one-range scan: row groups prune on manifest stats, pages
        prune on the page directory's exact min/max; the result equals
        the SQL answer."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema
        from tokenc.engine import prune, scan

        src = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
               .select("l_orderkey")
               .repartitionByRange(4, "l_orderkey")
               .sortWithinPartitions("l_orderkey"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=1 << 20,
                        page_bytes=8 << 10).cache()
        lo, hi = 1000, 3000
        flt = [("l_orderkey", "between", (lo, hi))]
        assert prune(enc, specs, flt).count() < enc.count()
        got = (scan(enc, specs, schema, flt)
               .groupBy().agg(F.count("*").alias("c"),
                              F.sum("l_orderkey").alias("s")).toPandas())
        want = (src.where(F.col("l_orderkey").between(lo, hi))
                .groupBy().agg(F.count("*").alias("c"),
                               F.sum("l_orderkey").alias("s")).toPandas())
        assert got.equals(want)
        enc.unpersist()


class TestPruneKeepsStatlessChunks:
    def test_omit_stats_chunks_never_pruned(self, spark):
        from dataclasses import replace

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, prune

        src = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
               .select("l_orderkey").limit(5000).repartition(4))
        schema = to_arrow_schema(src.schema)
        specs = [replace(s, omit_stats=True)
                 for s in specs_from_arrow_schema(schema)]
        enc = encode_df(src, specs, target_raw_bytes=64 << 10).cache()
        total = enc.count()
        assert total > 1
        # no stats → pruning must be a no-op, never a silent row loss
        kept = prune(enc, specs, [("l_orderkey", "between", (10, 20))],
                     auto_index=False).count()
        assert kept == total

    def test_omit_stats_string_chunks_never_pruned(self, spark):
        from dataclasses import replace

        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, prune

        src = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
               .select("l_returnflag").limit(5000).repartition(4))
        schema = to_arrow_schema(src.schema)
        specs = [replace(s, omit_stats=True)
                 for s in specs_from_arrow_schema(schema)]
        enc = encode_df(src, specs, target_raw_bytes=64 << 10).cache()
        total = enc.count()
        assert total > 1
        # 'z' > every real flag AND > the literal 'null' json — a wrong
        # missing-stat sentinel would prune everything here
        kept = prune(enc, specs, [("l_returnflag", "between", ("z", "zz"))],
                     auto_index=False).count()
        assert kept == total

    def test_real_null_string_value_stats_still_prune(self, spark):
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, prune

        # the string VALUE "null" must not read as a missing stat
        src = (spark.createDataFrame(
            [("null",)] * 100 + [("zebra",)] * 100, "s string")
            .repartitionByRange(2, "s").sortWithinPartitions("s"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(src, specs, target_raw_bytes=1 << 10).cache()
        total = enc.count()
        kept = prune(enc, specs, [("s", "between", ("a", "b"))],
                     auto_index=False).count()
        assert kept < total  # stats exist and do prune
