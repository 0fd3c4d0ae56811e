"""Split-block bloom filters (tokenc/bloom.py) + per-chunk point-lookup
pruning through the engine (prune_rowgroups_eq)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tokenc.bloom import (MAGIC, build_bloom, hash_bytes_concat,
                          hash_values, might_contain)


class TestBloomCore:
    def test_header_and_size_cap(self):
        blob = build_bloom(hash_values(np.arange(100)))
        assert blob[:4] == MAGIC
        big = build_bloom(hash_values(np.arange(200_000)))
        assert len(big) <= 8 + (1 << 16)

    def test_no_false_negatives_ints(self):
        vals = np.random.default_rng(7).integers(-2**62, 2**62, 5000)
        blob = build_bloom(hash_values(vals))
        assert might_contain(blob, hash_values(vals)).all()

    def test_no_false_negatives_strings(self):
        vals = np.array([f"doc-{i:06d}".encode() for i in range(2000)],
                        dtype=object)
        blob = build_bloom(hash_values(vals))
        assert might_contain(blob, hash_values(vals)).all()

    def test_false_positive_rate(self):
        rng = np.random.default_rng(11)
        present = rng.integers(0, 10**12, 10_000)
        absent = rng.integers(10**13, 10**14, 10_000)
        blob = build_bloom(hash_values(present))
        fp = might_contain(blob, hash_values(absent)).mean()
        assert fp < 0.05, fp  # ~1% expected at 10 bits/value

    def test_numeric_width_normalization(self):
        # int32 build, python-int probe must agree (probe side normalizes)
        vals32 = np.arange(100, dtype=np.int32)
        blob = build_bloom(hash_values(vals32))
        assert might_contain(blob, hash_values(np.array([42]))).all()
        assert not might_contain(blob, hash_values(np.array([4200]))).any()

    def test_bytes_concat_matches_object_hash(self):
        strs = [b"alpha", b"", b"gamma-very-long-value", b"d"]
        data = np.frombuffer(b"".join(strs), dtype=np.uint8)
        offs = np.cumsum([0] + [len(s) for s in strs]).astype(np.int64)
        a = hash_bytes_concat(data, offs)
        b = hash_values(np.array(strs, dtype=object))
        assert (a == b).all()

    def test_bytes_concat_hashes_pinned(self):
        """Stored filters stay valid only while the hash of a value never
        changes: these values (empty, embedded NUL, multi-byte UTF-8,
        invalid UTF-8, long) hash to fixed numbers."""
        strs = [b"", b"a\x00b", b"doc-000000000001", "ünïcode".encode(),
                b"\xff\xfe\x00", b"x" * 40]
        data = np.frombuffer(b"".join(strs), dtype=np.uint8)
        offs = np.cumsum([0] + [len(s) for s in strs]).astype(np.int64)
        got = [int(h) for h in hash_bytes_concat(data, offs)]
        assert got == [0x186da64456263a46, 0x85208b62dfe18cce,
                       0x8a2279a7139dce5b, 0x56b07723ff865247,
                       0xdd77487facaf2c7b, 0xf0da514a3f49488b]
        # a slice of the same buffers (offsets not starting at 0)
        assert [int(h) for h in hash_bytes_concat(data, offs[2:])] == got[2:]

    def test_empty(self):
        blob = build_bloom(hash_values(np.array([], dtype=np.int64)))
        assert not might_contain(blob, hash_values(np.array([1]))).any()

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=1,
                    max_size=500))
    def test_membership_property(self, xs):
        vals = np.array(xs, dtype=np.int64)
        blob = build_bloom(hash_values(vals))
        assert might_contain(blob, hash_values(vals)).all()


@pytest.fixture(scope="module")
def bloom_enc(spark):
    """Unsorted high-cardinality key → 8 row groups with overlapping
    min/max ranges (range stats would prune nothing)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    rng = np.random.default_rng(3)
    ids = rng.permutation(20_000).astype(np.int64)
    pdf = {"k": ids, "name": np.array([f"id-{v:08d}" for v in ids])}
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(pdf)).repartition(4)
    schema = to_arrow_schema(df.schema)
    specs = specs_from_arrow_schema(schema, bloom_columns=["k", "name"])
    enc = encode_df(df, specs, target_raw_bytes=64 << 10).cache()
    enc.count()
    return enc, specs, schema


class TestEnginePruning:
    def test_bloom_rides_manifest(self, bloom_enc):
        enc, specs, schema = bloom_enc
        metas = enc.select("k_meta.bloom").collect()
        assert all(r["bloom"] is not None and bytes(r["bloom"])[:4] == MAGIC
                   for r in metas)

    def test_prune_eq_int(self, spark, bloom_enc):
        from tokenc.engine import decode_df, prune_rowgroups_eq

        enc, specs, schema = bloom_enc
        total = enc.count()
        kept = prune_rowgroups_eq(enc, "k", 12345)
        n_kept = kept.count()
        assert 1 <= n_kept < total, (n_kept, total)
        dec = decode_df(kept, specs, schema)
        rows = dec.where("k = 12345").collect()
        assert len(rows) == 1 and rows[0]["name"] == "id-00012345"

    def test_prune_eq_string(self, spark, bloom_enc):
        from tokenc.engine import decode_df, prune_rowgroups_eq

        enc, specs, schema = bloom_enc
        total = enc.count()
        kept = prune_rowgroups_eq(enc, "name", "id-00000077")
        assert 1 <= kept.count() < total
        dec = decode_df(kept, specs, schema)
        assert dec.where("name = 'id-00000077'").count() == 1

    def test_cross_type_probe_never_false_prunes(self, spark):
        # regression: probing a FLOAT column with a Python int (5 vs
        # stored 5.0) hashed int64 vs the filter's float64 hashes and
        # wrongly pruned row groups that DO contain the value — and the
        # converse for an int column probed with 5.0
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import decode_df, encode_df, prune_rowgroups_eq
        from tokenc.schema import specs_from_arrow_schema

        df = spark.range(4000).selectExpr(
            "cast(id as double) as f", "cast(id as long) as i") \
            .repartition(4)
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["f", "i"])
        enc = encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        try:
            for col, probe in (("f", 77), ("f", 77.0),
                               ("i", 77), ("i", 77.0)):
                kept = prune_rowgroups_eq(enc, col, probe)
                dec = decode_df(kept, specs, schema)
                assert dec.where(f"{col} = 77").count() == 1, (col, probe)
        finally:
            enc.unpersist()

    def test_absent_value_prunes_everything(self, bloom_enc):
        from tokenc.engine import prune_rowgroups_eq

        enc, specs, schema = bloom_enc
        # absent key: expect 0 row groups kept (fp could keep a few, but
        # with 8 groups at ~1% fp each, 0 is overwhelmingly likely)
        assert prune_rowgroups_eq(enc, "k", 10**15).count() <= 1

    def test_no_bloom_keeps_all(self, spark):
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, prune_rowgroups_eq
        from tokenc.schema import specs_from_arrow_schema

        df = spark.range(1000).selectExpr("cast(id as long) as k")
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)  # no bloom
        enc = encode_df(df, specs, target_raw_bytes=4 << 10)
        assert prune_rowgroups_eq(enc, "k", 1).count() == enc.count()

    def test_bloom_on_list_column_rejected(self):
        from tokenc.schema import specs_from_arrow_schema

        schema = pa.schema([pa.field("t", pa.list_(pa.int32()))])
        with pytest.raises(ValueError, match="scalar"):
            specs_from_arrow_schema(schema, bloom_columns=["t"])


class TestProbeWidths:
    def test_bool_probe_hashes_both_widths(self):
        """A bool probe can land on an int64-normalized OR a float64
        column (Spark casts bool in the residual); int64-only hashing
        falsely pruned float columns storing 1.0/0.0."""
        import numpy as np

        from tokenc import bloom as _bloom
        from tokenc.engine import _bloom_probe_hashes

        got = _bloom_probe_hashes(True)
        as_int = _bloom.hash_values(np.array([1], dtype=np.int64))
        as_flt = _bloom.hash_values(np.array([1.0], dtype=np.float64))
        got_set = set(np.asarray(got).tolist())
        assert set(np.asarray(as_int).tolist()) <= got_set
        assert set(np.asarray(as_flt).tolist()) <= got_set
