"""Soundness regressions from the round-5 full-core review: RLE's
unsigned bit-pack vs negative values, NaN stats under Spark's
NaN-largest total order, list<binary> rebuild, trailing-empty-page
stats, >2 GiB binary offsets, and the multi-probe page filter."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from tokenc import codecs
from tokenc.chunk import (MAGIC, chunk_page_stats, decode_chunk,
                          decode_chunk_rows_multi, encode_chunk,
                          page_filter_row_runs, page_filter_row_runs_multi)

CODEC_OFF = len(MAGIC) + 1  # header: MAGIC, version, codec, phys, flags


class TestRleNegativeReroute:
    """RLE derives its bit width from max(); a negative viewed as uint64
    would silently truncate. The encoder must reroute, not corrupt."""

    def test_negative_outside_selector_sample_roundtrips(self):
        vals = np.full(1_000_000, 7, dtype=np.int64)
        vals[987_654] = -1  # far outside any 8K middle sample
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.RLE,
                               n_rows=vals.size, values=vals)
        assert blob[CODEC_OFF] == codecs.PLAIN  # rerouted, recorded
        got = decode_chunk(blob)
        assert np.array_equal(np.asarray(got.values), vals)

    def test_nonnegative_keeps_rle(self):
        vals = np.full(10_000, 7, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.RLE,
                               n_rows=vals.size, values=vals)
        assert blob[CODEC_OFF] == codecs.RLE
        assert np.array_equal(np.asarray(decode_chunk(blob).values), vals)

    def test_selector_autopick_roundtrips_with_hidden_negative(self):
        from tokenc.selector import choose_numeric

        vals = np.full(1_000_000, 7, dtype=np.int64)
        vals[987_654] = -1
        codec = choose_numeric(vals, codecs.PHYS_INT64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codec,
                               n_rows=vals.size, values=vals)
        assert np.array_equal(np.asarray(decode_chunk(blob).values), vals)


class TestNanStats:
    """Spark/DuckDB order NaN ABOVE every value (NaN = NaN is true): max
    stats must propagate NaN, min stats must skip it, and NaN bounds must
    KEEP pages — numpy's all-False NaN comparisons falsely pruned rows."""

    def _blob(self):
        vals = np.concatenate([np.full(100_000, 1.0),
                               [np.nan],
                               np.full(100_000, 2.0)])
        return encode_chunk(phys=codecs.PHYS_DOUBLE, codec=codecs.PLAIN,
                            n_rows=vals.size, values=vals,
                            page_bytes=128 << 10), vals

    @staticmethod
    def _candidates(blob, lo, hi):
        """Values of the pages page_filter_row_runs keeps for [lo, hi]."""
        cds, _ = decode_chunk_rows_multi(blob,
                                         page_filter_row_runs(blob, lo, hi))
        return np.concatenate([np.asarray(c.values) for c in cds])

    def test_page_filter_keeps_nan_page_for_matching_rows(self):
        (blob, _), vals = self._blob()
        got = self._candidates(blob, 0.5, 1.5)
        want = vals[(vals >= 0.5) & (vals <= 1.5)]
        # candidate decode is may-match (superset), but must cover all hits
        assert np.count_nonzero(got == 1.0) == want.size

    def test_nan_matches_lower_bound_like_spark(self):
        # x >= 1.5 matches NaN rows in Spark's total order: the NaN-max
        # page must stay
        (blob, _), _ = self._blob()
        got = self._candidates(blob, 1.5, None)
        assert np.isnan(got).any()

    def test_chunk_minmax_skips_nan_min_propagates_nan_max(self):
        vals = np.array([3.0, np.nan, 1.0, 2.0])
        _, stats = encode_chunk(phys=codecs.PHYS_DOUBLE, codec=codecs.PLAIN,
                                n_rows=vals.size, values=vals)
        assert stats.min_val == 1.0
        assert np.isnan(stats.max_val)

    def test_all_nan_chunk(self):
        vals = np.full(8, np.nan)
        blob, stats = encode_chunk(phys=codecs.PHYS_DOUBLE,
                                   codec=codecs.PLAIN,
                                   n_rows=vals.size, values=vals)
        assert np.isnan(stats.min_val) and np.isnan(stats.max_val)
        assert np.isnan(np.asarray(decode_chunk(blob).values)).all()

    def test_spark_scan_parity_with_nan(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema

        src = (spark.range(40_000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 1000 == 7, F.lit(float("nan")))
             .otherwise(F.col("id").cast("double") / 100.0).alias("x"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(src.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(src, specs, target_raw_bytes=32 << 10).cache()
        for filt, cond in [
            ([("x", ">=", 399.0)], F.col("x") >= 399.0),   # NaN matches
            ([("x", "<=", 5.0)], F.col("x") <= 5.0),        # NaN doesn't
            ([("x", "between", (100.0, 101.0))],
             F.col("x").between(100.0, 101.0)),
        ]:
            got = eng.scan(enc, specs, schema, filt).count()
            want = src.where(cond).count()
            assert got == want, (filt, got, want)
        enc.unpersist()


class TestListBinary:
    def test_non_utf8_list_binary_roundtrips(self, spark):
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema

        rows = [(i, [bytes([0xFF, i % 256, 0x00]), b"", bytes([0xC3])])
                for i in range(500)]
        df = spark.createDataFrame(rows, "k int, bs array<binary>") \
            .repartition(2)
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=8 << 10)
        dec = eng.decode_df(enc, specs, schema)
        got = {r["k"]: [bytes(b) for b in r["bs"]] for r in dec.collect()}
        want = {k: bs for k, bs in rows}
        assert got == want

    def test_spec_marks_binary_element(self):
        from tokenc.schema import specs_from_arrow_schema

        sch = pa.schema([("bs", pa.list_(pa.binary()))])
        (spec,) = specs_from_arrow_schema(sch)
        assert spec.is_list and spec.phys == codecs.PHYS_BYTE_ARRAY
        assert spec.arrow_type is not None \
            and pa.types.is_binary(spec.arrow_type)
        sch2 = pa.schema([("ss", pa.list_(pa.string()))])
        (spec2,) = specs_from_arrow_schema(sch2)
        assert spec2.arrow_type is None  # strings keep the UTF-8 rebuild


class TestTrailingEmptyPageStats:
    def test_last_nonempty_page_max_exact(self):
        n = 200_000
        vals = np.arange(n // 2, dtype=np.int64)  # valid half
        validity = np.zeros(n, dtype=bool)
        validity[:n // 2] = True                  # trailing half all-null
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.PLAIN,
                               n_rows=n, values=vals, validity=validity,
                               page_bytes=128 << 10)
        st = chunk_page_stats(blob)
        assert st is not None
        nv = st["n_values"]
        last = max(i for i, c in enumerate(nv) if c)
        assert st["max"][last] == int(vals.max())  # old clamp dropped it
        assert st["min"][last] == int(vals[sum(nv[:last])])


class TestMultiProbePageFilter:
    def test_matches_per_value_union(self):
        vals = np.arange(500_000, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.PLAIN,
                               n_rows=vals.size, values=vals,
                               page_bytes=64 << 10)
        probes = [3, 250_000, 499_999]
        multi = page_filter_row_runs_multi(blob, probes)
        singles = []
        for v in probes:
            singles.extend(page_filter_row_runs(blob, v, v))
        covered = set()
        for lo, hi in singles:
            covered.update(range(lo, hi))
        m_covered = set()
        for lo, hi in multi:
            m_covered.update(range(lo, hi))
        assert m_covered == covered
        assert multi == sorted(multi)

    def test_unpaged_returns_none(self):
        vals = np.arange(10, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.PLAIN,
                               n_rows=vals.size, values=vals)
        assert page_filter_row_runs_multi(blob, [1, 2]) is None


class TestLargeBinaryOffsets:
    def test_helper_switches_to_large_binary(self):
        from tokenc.arrow_util import binary_array

        small = binary_array(np.frombuffer(b"abcd", np.uint8),
                             np.array([0, 2, 4], np.int64))
        assert small.type == pa.binary()
        assert small.to_pylist() == [b"ab", b"cd"]
        # synthetic >2 GiB offsets: only the buffer plumbing is under
        # test, so back them with a real (zero) payload
        big = 1 << 31
        data = np.zeros(big + 16, dtype=np.uint8)
        offs = np.array([0, big, big + 16], np.int64)
        arr = binary_array(data, offs)
        assert arr.type == pa.large_binary()
        assert len(arr) == 2


class TestIcebergPositionalSummaries:
    """Manifest-list partition summaries are positional per spec field;
    an unprunable field (temporal transform) must hold its position as a
    None placeholder or every later summary shifts onto the wrong
    column (silently refuting manifests of matching data)."""

    META = {
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"transform": "day", "source-id": 1, "name": "ts_day"},
            {"transform": "identity", "source-id": 2, "name": "source"},
        ]}],
    }
    SCHEMA = {"fields": [{"id": 1, "name": "event_ts"},
                         {"id": 2, "name": "source"}]}
    N2FT = {"event_ts": (1, "timestamp"), "source": (2, "string")}

    def test_placeholder_keeps_position(self):
        from tokenc.iceberg import _spec_pfields

        pf = _spec_pfields(self.META, self.SCHEMA, self.N2FT, {})
        assert len(pf) == 2
        assert pf[0] is None  # day transform: unprunable, position held
        assert pf[1]["cur"] == "source"

    def test_summary_bounds_land_on_right_column(self):
        import struct

        from tokenc.iceberg import _spec_pfields, _summary_constraints

        pf = _spec_pfields(self.META, self.SCHEMA, self.N2FT, {})
        m = {"partitions": [
            {"lower_bound": struct.pack("<i", 19700),
             "upper_bound": struct.pack("<i", 19800),
             "contains_null": False},
            {"lower_bound": b"aa", "upper_bound": b"mm",
             "contains_null": False},
        ]}
        bounds, buckets = _summary_constraints(m, pf)
        assert set(bounds) == {"source"}
        assert bounds["source"].lo == "aa" and bounds["source"].hi == "mm"
        assert buckets == {}


class TestFieldIdProjection:
    """Iceberg column-projection rule: a file that CARRIES field ids but
    lacks the wanted id must read the column as null — resolving by name
    would resurrect a dropped-then-re-added column's old values."""

    def _schema(self, ids: dict) -> pa.Schema:
        return pa.schema([
            pa.field(n, pa.string(),
                     metadata={b"PARQUET:field_id": str(i).encode()})
            for n, i in ids.items()])

    def test_file_with_ids_never_falls_back_to_name(self):
        from tokenc.files import _resolve_read

        aschema = self._schema({"label": 3, "k": 1})  # pre-evolution file
        res = {"label": {"field_id": 7, "names": ["label"]},
               "k": {"field_id": 1, "names": ["k"]}}
        out = _resolve_read(aschema, ["label", "k"], res)
        assert out["k"] == "k"
        assert out["label"] is None  # NOT the old field-id-3 'label'

    def test_file_without_ids_uses_name_mapping(self):
        from tokenc.files import _resolve_read

        aschema = pa.schema([("old_label", pa.string()), ("k", pa.string())])
        res = {"label": {"field_id": 7, "names": ["label", "old_label"]},
               "k": {"field_id": 1, "names": ["k"]}}
        out = _resolve_read(aschema, ["label", "k"], res)
        assert out["label"] == "old_label"
        assert out["k"] == "k"


class TestEmptyDocShingles:
    def test_zero_word_doc_does_not_crash(self, spark):
        from tokenc.pipeline.dedup import with_shingles

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, ""), (3, "   "), (4, "x")],
            "doc_id int, text string")
        rows = {r["doc_id"]: r["shingles"]
                for r in with_shingles(df).collect()}
        assert rows[2] == [] and rows[3] == []
        assert len(rows[1]) >= 1 and len(rows[4]) == 1

    def test_duckdb_oracle_agrees_on_empty(self):
        import duckdb

        from tokenc.pipeline.oracles import _shingle_cte

        con = duckdb.connect()
        con.sql("create table documents as select * from (values "
                "(1, 'alpha beta gamma delta'), (2, ''), (3, '   ')) "
                "t(doc_id, text)")
        q = "with" + _shingle_cte() + " select doc_id, shingles from sh"
        got = {r[0]: r[1] for r in con.sql(q).fetchall()}
        assert got[2] == [] and got[3] == []
        assert len(got[1]) >= 1


class TestCsvTokenSep:
    @pytest.mark.parametrize("sep", ["|", ".", " "])
    def test_metachar_separator(self, spark, tmp_path, sep):
        from tokenc.ingest import tokens_from_csv

        p = tmp_path / "t.csv"
        p.write_text("doc_id;tokens;source\n"
                     f"d1;12{sep}34{sep}5;web\n")
        df = tokens_from_csv(spark, str(p), sep=";", token_sep=sep)
        (row,) = df.collect()
        assert row["tokens"] == [12, 34, 5]
        assert row["n_tok"] == 3


class TestTextstatsEmptyDocs:
    """ANSI-default Spark 4 raises DIVIDE_BY_ZERO even for doubles; every
    textstats query must survive empty/zero-word documents and agree with
    the DuckDB oracle row by row."""

    DOCS = [("1", "the quick brown fox", "en"),
            ("2", "", "en"),
            ("3", "   ", "en")]

    def _spark_docs(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id string, text string, lang string")

    def test_token_stats_and_quality_no_crash(self, spark):
        from tokenc.pipeline.textstats import quality_score, token_stats

        ts = {r["doc_id"]: r.asDict()
              for r in token_stats(self._spark_docs(spark)).collect()}
        assert ts[2]["n_words"] == 0 and ts[2]["mean_word_len"] is None
        assert ts[3]["mean_word_len"] is None
        qs = {r["doc_id"]: r.asDict()
              for r in quality_score(self._spark_docs(spark)).collect()}
        assert qs[2]["quality_ppm"] == 0 and qs[2]["stop_ratio"] is None
        assert qs[2]["punct_ratio"] is None  # empty text: length 0
        assert qs[1]["quality_ppm"] > 0

    def test_fingerprint_empty_doc_is_zero_and_oracle_agrees(self, spark):
        import duckdb

        from tokenc.pipeline.oracles import fingerprint_sql
        from tokenc.pipeline.textstats import fingerprint

        got = {r["doc_id"]: (r["fp_ordered"], r["fp_bag"])
               for r in fingerprint(self._spark_docs(spark)).collect()}
        assert got[2] == (0, 0) and got[3] == (0, 0)
        con = duckdb.connect()
        con.sql("create table documents as select * from (values "
                + ", ".join(f"('{d}', '{t}')" for d, t, _ in self.DOCS)
                + ") t(doc_id, text)")
        want = {r[0]: (r[1], r[2])
                for r in con.sql(
                    "select doc_id, fp_ordered, fp_bag from ("
                    + fingerprint_sql() + ")").fetchall()}
        assert got == want


class TestZeroVectorCosine:
    def test_brute_topk_survives_zero_vector(self, spark):
        from tokenc.pipeline.simsearch import DIM, brute_topk

        rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(DIM)])
                for i in range(1, 30)]
        rows.append((30, [0.0] * DIM))  # all-zero embedding
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        out = brute_topk(emb, k=3, n_queries=3).collect()
        # ids start at 1 → 2 query vectors x top-3, no DIVIDE_BY_ZERO
        assert len(out) == 6
        assert all(r["neighbor_id"] != 30 for r in out)  # null cos ranks last

    def test_embed_neardup_survives_zero_vector(self, spark):
        from tokenc.pipeline.simsearch import DIM, embed_neardup

        rows = [(i, [float((i % 3) + d % 2) for d in range(DIM)])
                for i in range(1, 12)]
        rows.append((12, [0.0] * DIM))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        pairs = embed_neardup(emb, threshold=0.9).collect()
        assert all(12 not in (r["id_a"], r["id_b"]) for r in pairs)


class TestManifestSinglePass:
    def test_long_shape_and_values(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.manifest import manifest_df
        from tokenc.schema import specs_from_arrow_schema

        df = (spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("v"),
            F.concat(F.lit("s"), F.col("id")).alias("s"))
            .repartition(2))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        n_rg = enc.count()
        man = manifest_df(enc, [s.name for s in specs])
        assert man.count() == n_rg * len(specs)
        assert man.columns == ["rg_id", "n_rows", "column", "codec",
                               "n_values", "null_count", "raw_bytes",
                               "enc_bytes", "min_json", "max_json"]
        per_col = {r["column"]: r["cnt"] for r in
                   man.groupBy("column").agg(F.count("*").alias("cnt"))
                   .collect()}
        assert per_col == {s.name: n_rg for s in specs}
        tot = man.where(F.col("column") == "k") \
            .agg(F.sum("n_values")).collect()[0][0]
        assert tot == 5_000
        enc.unpersist()


class TestFsstEmptyStrings:
    def test_all_empty_chunk_roundtrips(self):
        from tokenc.codecs import fsst

        offs = np.zeros(4, dtype=np.int64)  # 3 values, all ''
        blob = fsst.encode(np.empty(0, np.uint8), offs)
        d, o, _ = fsst.decode(np.frombuffer(blob, np.uint8), 3)
        assert d.size == 0 and o.tolist() == [0, 0, 0, 0]

    def test_mixed_empty_nonempty(self):
        from tokenc.codecs import fsst

        strs = [b"", b"hello hello hello", b"", b"hello world"]
        data = np.frombuffer(b"".join(strs), np.uint8)
        offs = np.zeros(len(strs) + 1, np.int64)
        np.cumsum([len(s) for s in strs], out=offs[1:])
        blob = fsst.encode(data, offs)
        d, o, _ = fsst.decode(np.frombuffer(blob, np.uint8), len(strs))
        assert np.array_equal(o, offs) and np.array_equal(d, data)


class TestGzipFraming:
    def test_emits_real_gzip_and_reads_legacy_zlib(self):
        import zlib

        from tokenc.compress import COMP_IDS, compress, decompress

        payload = b"tokenc" * 1000
        framed = compress(payload, COMP_IDS["gzip"])
        body = framed[5:]
        assert body[:2] == b"\x1f\x8b"  # RFC-1952 gzip magic
        assert decompress(framed) == payload
        # sections written before the fix carried a bare zlib stream
        legacy = (bytes([COMP_IDS["gzip"]])
                  + len(payload).to_bytes(4, "little")
                  + zlib.compress(payload, 6))
        assert decompress(legacy) == payload


class TestSchemaKeyValidation:
    def test_unknown_override_column_raises(self):
        from tokenc.schema import specs_from_arrow_schema

        sch = pa.schema([("doc_id", pa.string())])
        with pytest.raises(ValueError, match="codec_overrides"):
            specs_from_arrow_schema(sch, codec_overrides={"doc_idd": "fsst"})
        with pytest.raises(ValueError, match="compression"):
            specs_from_arrow_schema(sch, compression={"doc_idd": "zstd"})
        with pytest.raises(ValueError, match="unknown codec"):
            specs_from_arrow_schema(sch, codec_overrides={"doc_id": "nope"})
        # a plain string compression still fans out to every column
        (spec,) = specs_from_arrow_schema(sch, compression="zstd")
        assert spec.compression == "zstd"
