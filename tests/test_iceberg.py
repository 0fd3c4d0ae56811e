"""Iceberg front door (tokenc/iceberg.py) + the from-scratch Avro OCF
codec (tokenc/avro.py) it rides on. Fixtures are built by build_table —
a faithful spec-v2 subset (metadata JSON → manifest-list.avro →
manifest.avro) — so the reader is exercised on the real wire format."""

from __future__ import annotations

import io
import os
import shutil
from decimal import ROUND_FLOOR

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokenc.avro import _read_long, _write_long, read_ocf, write_ocf
from tokenc.iceberg import (MANIFEST_ENTRY_SCHEMA, _Bounds, _may_match,
                            _trunc_lower, _trunc_upper, build_table,
                            deser_value, encode_iceberg, plan_deletes,
                            plan_files, ser_value, table_metadata)


class TestAvro:
    def test_zigzag_golden(self):
        # the Avro spec's own example encodings
        for v, b in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                     (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
            out = bytearray()
            _write_long(out, v)
            assert bytes(out) == b, v
            assert _read_long(io.BytesIO(b)) == v

    def test_ocf_header_golden(self):
        blob = write_ocf("int", [3])
        assert blob[:4] == b"Obj\x01"          # spec magic
        # one metadata block with 2 entries, first key "avro.schema"
        buf = io.BytesIO(blob[4:])
        assert _read_long(buf) == 2
        klen = _read_long(buf)
        assert buf.read(klen) == b"avro.schema"

    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_roundtrip_all_types(self, codec):
        schema = {"type": "record", "name": "r", "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": {"type": "array", "items": "int"}},
            {"name": "d", "type": {"type": "map", "values": "double"}},
            {"name": "e", "type": {"type": "fixed", "name": "fx", "size": 3}},
            {"name": "f", "type": {"type": "enum", "name": "en",
                                   "symbols": ["X", "Y"]}},
            {"name": "g", "type": "boolean"},
            {"name": "h", "type": "bytes"},
            {"name": "i", "type": "float"},
        ]}
        recs = [{"a": -(1 << 60), "b": None, "c": list(range(300)),
                 "d": {"k": 1.5, "j": -0.25}, "e": b"abc", "f": "Y",
                 "g": True, "h": b"\x00\xff", "i": 0.5},
                {"a": 7, "b": "héllo", "c": [], "d": {}, "e": b"xyz",
                 "f": "X", "g": False, "h": b"", "i": -2.0}]
        s2, r2 = read_ocf(write_ocf(schema, recs, codec=codec))
        assert r2 == recs and s2["name"] == "r"

    def test_corrupt_sync_detected(self):
        blob = bytearray(write_ocf("int", [1, 2, 3]))
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError, match="sync"):
            read_ocf(bytes(blob))


@pytest.fixture()
def table_dir(tmp_path):
    root = str(tmp_path / "tbl")
    data = os.path.join(root, "data")
    os.makedirs(data)
    paths = []
    for i, vals in enumerate([[1, 2, 3], [4, 5]]):
        p = os.path.join(data, f"f{i}.parquet")
        pq.write_table(pa.table({"x": pa.array(vals, pa.int32())}), p)
        paths.append(p)
    return root, paths


class TestIcebergPlan:
    def test_plan_and_append_and_time_travel(self, table_dir):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])
        assert [d.record_count for d in plan_files(root)] == [3]
        build_table(root, [f2], snapshot_id=2, parent=m1)
        assert sorted(os.path.basename(d.path)
                      for d in plan_files(root)) == ["f0.parquet", "f1.parquet"]
        old = plan_files(root, snapshot_id=1)
        assert [os.path.basename(d.path) for d in old] == ["f0.parquet"]
        assert table_metadata(root)["current-snapshot-id"] == 2

    def test_deleted_entries_and_delete_files_skipped(self, table_dir):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2])
        # rewrite the manifest with f2 marked DELETED and a v2 delete file
        meta_dir = os.path.join(root, "metadata")
        mpath = os.path.join(meta_dir, "snap1-m0.avro")
        schema, entries = read_ocf(open(mpath, "rb").read())
        entries[1]["status"] = 2  # DELETED
        entries.append({"status": 1, "snapshot_id": 1,
                        "sequence_number": None, "file_sequence_number": None,
                        "data_file": {"content": 1,  # position deletes
                                      "file_path": "file:///nope.parquet",
                                      "file_format": "PARQUET",
                                      "partition": {}, "record_count": 0,
                                      "file_size_in_bytes": 0}})
        open(mpath, "wb").write(write_ocf(MANIFEST_ENTRY_SCHEMA, entries))
        plan = plan_files(root)
        assert [os.path.basename(d.path) for d in plan] == ["f0.parquet"]

    def test_moved_table_resolves(self, table_dir, tmp_path):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2])
        moved = str(tmp_path / "moved")
        shutil.move(root, moved)
        plan = plan_files(moved)
        assert len(plan) == 2 and all(d.path.startswith(moved) for d in plan)
        assert all(os.path.exists(d.path) for d in plan)

    def test_empty_table(self, tmp_path):
        root = str(tmp_path / "empty")
        os.makedirs(os.path.join(root, "metadata"))
        import json
        with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
            json.dump({"format-version": 2, "location": root,
                       "snapshots": []}, f)
        assert plan_files(root) == []


class TestSingleValueSer:
    @pytest.mark.parametrize("v,t", [
        (-7, "int"), (12345, "date"), (-(1 << 40), "long"),
        (86400000000, "timestamp"), (86400000000, "timestamptz"),
        (0.5, "float"), (-2.25, "double"), (True, "boolean"),
        (False, "boolean"), ("héllo", "string"), (b"\x00\xff", "binary")])
    def test_roundtrip(self, v, t):
        assert deser_value(ser_value(v, t, ROUND_FLOOR), t) == v

    def test_fixed_widths(self):
        # spec: little-endian fixed-width — pin the exact wire bytes
        assert ser_value(1, "int", ROUND_FLOOR) == b"\x01\x00\x00\x00"
        assert ser_value(1, "long", ROUND_FLOOR) == b"\x01" + b"\x00" * 7
        assert ser_value(True, "boolean", ROUND_FLOOR) == b"\x01"

    def test_decimal_bounds_round_outward(self):
        # a value with more fractional digits than the scale: the lower
        # bound must not exceed it and the upper bound must not fall
        # below it (half-even rounds 1.234 DOWN to 1.23, an unsound max)
        from decimal import ROUND_CEILING, Decimal

        t = "decimal(10, 2)"
        for v in (Decimal("1.234"), Decimal("1.235"), Decimal("-1.234"),
                  Decimal("-1.236"), Decimal("0.001"), Decimal("7.50")):
            lo = deser_value(ser_value(v, t, ROUND_FLOOR), t)
            hi = deser_value(ser_value(v, t, ROUND_CEILING), t)
            assert lo <= v <= hi, (v, lo, hi)
            assert hi - lo <= Decimal("0.01")
        assert deser_value(ser_value(Decimal("1.234"), t, ROUND_CEILING),
                           t) == Decimal("1.24")

    def test_trunc_lower_is_prefix(self):
        assert _trunc_lower("a" * 40) == "a" * 16
        assert _trunc_lower(b"b" * 40) == b"b" * 16
        assert _trunc_lower("short") == "short"

    def test_trunc_upper_increments_last_unit(self):
        # incremented prefix sorts >= every string sharing the prefix
        s = "a" * 20
        up = _trunc_upper(s)
        assert up == "a" * 15 + "b" and up > s
        b = b"a" * 20
        assert _trunc_upper(b) == b"a" * 15 + b"b"
        assert _trunc_upper("short") == "short"

    def test_trunc_upper_carry_and_impossible(self):
        # last unit at max → carry into the previous one
        assert _trunc_upper(b"a" * 15 + b"\xff" * 5) == b"a" * 14 + b"b"
        # all-max prefix → no valid truncated upper bound exists
        assert _trunc_upper(b"\xff" * 20) is None


class TestMayMatch:
    B = {"x": _Bounds(lo=10, hi=20, may_null=False)}

    def test_comparisons(self):
        b = self.B
        assert _may_match(("eq", "x", 15), b)
        assert not _may_match(("eq", "x", 9), b)
        assert not _may_match(("eq", "x", 21), b)
        assert _may_match(("lt", "x", 11), b)
        assert not _may_match(("lt", "x", 10), b)
        assert _may_match(("le", "x", 10), b)
        assert not _may_match(("le", "x", 9), b)
        assert _may_match(("gt", "x", 19), b)
        assert not _may_match(("gt", "x", 20), b)
        assert _may_match(("ge", "x", 20), b)
        assert not _may_match(("ge", "x", 21), b)

    def test_ne_only_refutable_for_constant_file(self):
        assert _may_match(("ne", "x", 15), self.B)
        const = {"x": _Bounds(lo=7, hi=7, may_null=False)}
        assert not _may_match(("ne", "x", 7), const)
        assert _may_match(("ne", "x", 8), const)

    def test_in_and_bool_ops(self):
        b = self.B
        assert _may_match(("in", "x", [1, 2, 12]), b)
        assert not _may_match(("in", "x", [1, 2, 3]), b)
        assert _may_match(("and", ("ge", "x", 10), ("le", "x", 30)), b)
        assert not _may_match(("and", ("ge", "x", 10), ("ge", "x", 30)), b)
        assert _may_match(("or", ("eq", "x", 0), ("eq", "x", 15)), b)
        assert not _may_match(("or", ("eq", "x", 0), ("eq", "x", 99)), b)

    def test_nulls(self):
        b = self.B  # null_count known 0
        assert not _may_match(("is_null", "x"), b)
        assert _may_match(("not_null", "x"), b)
        alln = {"x": _Bounds(may_null=True, all_null=True)}
        assert _may_match(("is_null", "x"), alln)
        assert not _may_match(("not_null", "x"), alln)
        assert not _may_match(("eq", "x", 1), alln)  # no value to compare

    def test_unknown_column_and_missing_stats_keep(self):
        assert _may_match(("eq", "other", 1), self.B)
        assert _may_match(("eq", "x", 1), {"x": _Bounds()})


class TestScanPruning:
    def test_file_bounds_prune(self, table_dir):
        root, (f1, f2) = table_dir  # f0: x in [1,3], f1: x in [4,5]
        build_table(root, [f1, f2])
        names = lambda flt: [os.path.basename(d.path)
                             for d in plan_files(root, row_filter=flt)]
        assert names(("eq", "x", 5)) == ["f1.parquet"]
        assert names(("lt", "x", 3)) == ["f0.parquet"]
        assert names(("ge", "x", 1)) == ["f0.parquet", "f1.parquet"]
        assert names(("gt", "x", 100)) == []
        assert names(("and", ("ge", "x", 2), ("le", "x", 4))) \
            == ["f0.parquet", "f1.parquet"]

    def test_bounds_survive_snapshot_append(self, table_dir):
        # prior manifests re-encoded into the new list keep their stats
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])
        build_table(root, [f2], snapshot_id=2, parent=m1)
        plan = plan_files(root, row_filter=("le", "x", 2))
        assert [os.path.basename(d.path) for d in plan] == ["f0.parquet"]

    def test_no_stats_keeps_everything(self, table_dir):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], collect_stats=False)
        plan = plan_files(root, row_filter=("eq", "x", 999))
        assert len(plan) == 2  # may-match: no evidence → keep

    def test_unknown_filter_column_raises(self, table_dir):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2])
        with pytest.raises(ValueError, match="not in the table schema"):
            plan_files(root, row_filter=("eq", "nope", 1))

    def test_all_null_column_pruned(self, tmp_path):
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p0 = os.path.join(data, "nulls.parquet")
        pq.write_table(pa.table({"x": pa.array([None, None], pa.int32()),
                                 "y": pa.array([1, 2], pa.int32())}), p0)
        p1 = os.path.join(data, "vals.parquet")
        pq.write_table(pa.table({"x": pa.array([7, None], pa.int32()),
                                 "y": pa.array([3, 4], pa.int32())}), p1)
        build_table(root, [p0, p1])
        names = lambda flt: [os.path.basename(d.path)
                             for d in plan_files(root, row_filter=flt)]
        assert names(("not_null", "x")) == ["vals.parquet"]
        assert names(("eq", "x", 7)) == ["vals.parquet"]
        assert names(("is_null", "x")) == ["nulls.parquet", "vals.parquet"]

    def test_string_truncated_bounds_sound(self, tmp_path):
        # 40-char strings: bounds stored truncated to 16 units, upper
        # incremented — equality probes inside/outside must stay sound
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p0 = os.path.join(data, "s.parquet")
        pq.write_table(pa.table({"s": pa.array(["m" * 40, "m" * 39 + "z"])}),
                       p0)
        build_table(root, [p0])
        df = plan_files(root)[0]
        (fid, lo_b), = df.lower_bounds.items()
        assert lo_b == b"m" * 16                       # prefix lower
        assert df.upper_bounds[fid] == b"m" * 15 + b"n"  # incremented upper
        keep = lambda flt: len(plan_files(root, row_filter=flt))
        assert keep(("eq", "s", "m" * 40)) == 1   # true member retained
        assert keep(("eq", "s", "m" * 20)) == 1   # shares prefix → may-match
        assert keep(("eq", "s", "a")) == 0        # below lower → pruned
        assert keep(("eq", "s", "z")) == 0        # above incremented upper

    @pytest.fixture()
    def part_table(self, tmp_path):
        """Two snapshots = two manifests, partitioned by constant column p:
        snapshot 1 holds p=1 files, snapshot 2 holds p=2 files."""
        root = str(tmp_path / "ptbl")
        data = os.path.join(root, "data")
        os.makedirs(data)

        def mk(name, p, xs):
            path = os.path.join(data, name)
            pq.write_table(pa.table({"p": pa.array([p] * len(xs), pa.int32()),
                                     "x": pa.array(xs, pa.int64())}), path)
            return path

        m1 = build_table(root, [mk("a0.parquet", 1, [1, 2]),
                                mk("a1.parquet", 1, [3, 4])],
                         partition_by=("p",))
        build_table(root, [mk("b0.parquet", 2, [5, 6])], snapshot_id=2,
                    parent=m1, partition_by=("p",))
        return root

    def test_partition_values_prune_files(self, part_table):
        plan = plan_files(part_table, row_filter=("eq", "p", 2))
        assert [os.path.basename(d.path) for d in plan] == ["b0.parquet"]
        assert plan[0].partition == {"p": 2}
        both = plan_files(part_table, row_filter=("in", "p", [1, 2]))
        assert len(both) == 3

    def test_manifest_pruned_without_opening(self, part_table, monkeypatch):
        # the p=1 manifest must be dropped from the LIST's partition
        # summaries — its manifest file is never even read
        import tokenc.iceberg as ice
        reads = []
        orig = ice._read_file

        def spy(fs, path):
            reads.append(path)
            return orig(fs, path)

        monkeypatch.setattr(ice, "_read_file", spy)
        plan = plan_files(part_table, row_filter=("eq", "p", 2))
        assert [os.path.basename(d.path) for d in plan] == ["b0.parquet"]
        opened = [p for p in reads if p.endswith("-m0.avro")]
        assert opened and all("snap2" in p for p in opened), opened

    def test_nonconstant_partition_column_rejected(self, tmp_path):
        root = str(tmp_path / "bad")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p0 = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"p": pa.array([1, 2], pa.int32())}), p0)
        with pytest.raises(ValueError, match="not constant"):
            build_table(root, [p0], partition_by=("p",))


def _decode_x(spark, tmp_path, root, **kw):
    """encode_iceberg over the int32 `x` fixture → sorted decoded values."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import decode_df
    from tokenc.schema import specs_from_arrow_schema

    schema = pa.schema([pa.field("x", pa.int32())])
    specs = specs_from_arrow_schema(schema)
    enc = encode_iceberg(spark, root, specs, target_raw_bytes=1 << 20, **kw)
    return sorted(r["x"] for r in decode_df(enc, specs, schema).collect())


class TestPositionDeletes:
    def test_same_snapshot_deletes(self, spark, table_dir, tmp_path):
        root, (f1, f2) = table_dir  # f0: [1,2,3], f1: [4,5]
        build_table(root, [f1, f2],
                    position_deletes={f1: [1], f2: [0]})
        dels = plan_deletes(root)
        assert len(dels) == 1 and dels[0].record_count == 2
        assert _decode_x(spark, tmp_path, root) == [1, 3, 5]

    def test_delete_only_snapshot_and_time_travel(self, spark, table_dir,
                                                  tmp_path):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1, f2])
        build_table(root, [], snapshot_id=2, parent=m1,
                    position_deletes={f1: [0, 2]})
        # snapshot 2 sees the deletes, snapshot 1 does not
        assert plan_deletes(root, snapshot_id=1) == []
        assert len(plan_deletes(root)) == 1
        assert _decode_x(spark, tmp_path, root) == [2, 4, 5]
        assert _decode_x(spark, tmp_path, root, snapshot_id=1) \
            == [1, 2, 3, 4, 5]

    def test_apply_deletes_false(self, spark, table_dir, tmp_path):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], position_deletes={f2: [0, 1]})
        assert _decode_x(spark, tmp_path, root) == [1, 2, 3]
        assert _decode_x(spark, tmp_path, root, apply_deletes=False) \
            == [1, 2, 3, 4, 5]

    def test_deletes_across_row_groups_and_splits(self, spark, tmp_path):
        # 30 rows in 5 parquet row groups; delete a spread of positions;
        # tasks_per_file=2 splits the file across tasks — offsets must
        # stay correct in the non-first split
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"x": pa.array(range(30), pa.int32())}), p,
                       row_group_size=6)
        dels = [0, 5, 6, 17, 18, 29]
        build_table(root, [p], position_deletes={p: dels})
        got = _decode_x(spark, tmp_path, root, tasks_per_file=2)
        assert got == [v for v in range(30) if v not in dels]

    def test_delete_only_without_parent_rejected(self, tmp_path):
        with pytest.raises(ValueError, match="needs parent"):
            build_table(str(tmp_path / "t"), [],
                        position_deletes={"f": [0]})


class TestEncodeIceberg:
    def test_end_to_end(self, spark, tmp_path):
        """Tokens-shaped Iceberg table → plan → file-granular encode →
        decode → exact roundtrip (the north-star input path)."""
        from pyspark.sql import functions as F

        from tokenc.datagen import TOKENS_ARROW_SCHEMA, synth_tokens_df
        from tokenc.engine import decode_df
        from tokenc.schema import specs_from_arrow_schema

        root = str(tmp_path / "tokens_tbl")
        data = os.path.join(root, "data")
        synth_tokens_df(spark, 2000, seed=11, partitions=4) \
            .write.mode("overwrite").parquet(data)
        files = sorted(os.path.join(data, f) for f in os.listdir(data)
                       if f.endswith(".parquet"))
        build_table(root, files)

        specs = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)
        enc = encode_iceberg(spark, root, specs, target_raw_bytes=1 << 20)
        dec = decode_df(enc, specs, TOKENS_ARROW_SCHEMA)
        got = (dec.select("doc_id", F.hash("tokens").alias("h"), "n_tok",
                          "source").orderBy("doc_id").toPandas())
        want = (spark.read.parquet(data)
                .select("doc_id", F.hash("tokens").alias("h"), "n_tok",
                        "source").orderBy("doc_id").toPandas())
        import pandas as pd
        pd.testing.assert_frame_equal(got, want)

    def test_snapshot_reproducibility(self, spark, table_dir):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])
        build_table(root, [f2], snapshot_id=2, parent=m1)
        a = [d.path for d in plan_files(root, snapshot_id=1)]
        b = [d.path for d in plan_files(root, snapshot_id=1)]
        assert a == b and len(a) == 1


def _decode_tbl(spark, root, schema, **kw):
    """encode_iceberg → decode under an arbitrary flat schema → rows."""
    from tokenc.engine import decode_df
    from tokenc.schema import specs_from_arrow_schema

    specs = specs_from_arrow_schema(schema)
    enc = encode_iceberg(spark, root, specs, target_raw_bytes=1 << 20, **kw)
    return [r.asDict() for r in decode_df(enc, specs, schema).collect()]


class TestEqualityDeletes:
    def test_basic_and_time_travel(self, spark, table_dir, tmp_path):
        root, (f1, f2) = table_dir  # f0: [1,2,3], f1: [4,5]
        m1 = build_table(root, [f1, f2])
        build_table(root, [], snapshot_id=2, parent=m1,
                    equality_deletes=(["x"], [(2,), (5,)]))
        dels = plan_deletes(root)
        assert [d.content for d in dels] == [2]
        assert dels[0].equality_ids == (1,)
        assert dels[0].sequence_number == 2
        assert _decode_x(spark, tmp_path, root) == [1, 3, 4]
        assert _decode_x(spark, tmp_path, root, snapshot_id=1) \
            == [1, 2, 3, 4, 5]

    def test_applies_strictly_older_only(self, spark, table_dir, tmp_path):
        # a data file appended AFTER the delete keeps rows equal to the
        # deleted keys (spec: equality deletes apply to data files with a
        # strictly smaller data sequence number)
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])                         # seq 1
        m2 = build_table(root, [], snapshot_id=2, parent=m1,
                         equality_deletes=(["x"], [(2,), (4,)]))  # seq 2
        build_table(root, [f2], snapshot_id=3, parent=m2)    # seq 3
        assert _decode_x(spark, tmp_path, root) == [1, 3, 4, 5]

    def test_same_snapshot_data_untouched(self, spark, table_dir, tmp_path):
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], equality_deletes=(["x"], [(2,)]))
        assert _decode_x(spark, tmp_path, root) == [1, 2, 3, 4, 5]

    def test_composite_key_join_path(self, spark, tmp_path):
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({
            "g": pa.array([1, 1, 2, 2, 3], pa.int64()),
            "name": pa.array(["a", "b", "a", "b", "a"]),
            "v": pa.array([10, 20, 30, 40, 50], pa.int32())}), p)
        m1 = build_table(root, [p])
        build_table(root, [], snapshot_id=2, parent=m1,
                    equality_deletes=(["g", "name"],
                                      [(1, "b"), (2, "a"), (9, "zz")]))
        schema = pa.schema([pa.field("g", pa.int64()),
                            pa.field("name", pa.string()),
                            pa.field("v", pa.int32())])
        rows = _decode_tbl(spark, root, schema)
        assert sorted(r["v"] for r in rows) == [10, 40, 50]

    def test_eq_column_outside_projection(self, spark, tmp_path):
        # delete keys on a column the scan does NOT project: the task must
        # still read it for the anti-match, then drop it before encoding
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({
            "k": pa.array(["a", "b", "c"]),
            "v": pa.array([1, 2, 3], pa.int32())}), p)
        m1 = build_table(root, [p])
        build_table(root, [], snapshot_id=2, parent=m1,
                    equality_deletes=(["k"], [("b",)]))
        schema = pa.schema([pa.field("v", pa.int32())])
        rows = _decode_tbl(spark, root, schema)
        assert sorted(r["v"] for r in rows) == [1, 3]

    def test_unknown_eq_column_rejected(self, table_dir):
        root, (f1, _) = table_dir
        with pytest.raises(ValueError, match="equality-delete columns"):
            build_table(root, [f1], equality_deletes=(["nope"], [(1,)]))


class TestSchemaEvolution:
    def test_rename_resolves_old_files(self, spark, table_dir, tmp_path):
        from tokenc.iceberg import evolve_schema

        root, (f1, f2) = table_dir
        build_table(root, [f1, f2])
        evolve_schema(root, renames={"x": "y"})
        schema = pa.schema([pa.field("y", pa.int32())])
        rows = _decode_tbl(spark, root, schema)
        assert sorted(r["y"] for r in rows) == [1, 2, 3, 4, 5]
        # old name no longer addressable
        with pytest.raises(ValueError, match="not in the current"):
            _decode_tbl(spark, root, pa.schema([pa.field("x", pa.int32())]))

    def test_add_column_nulls_then_values(self, spark, tmp_path):
        from tokenc.iceberg import evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        fa = os.path.join(data, "a.parquet")
        pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int32())}), fa)
        build_table(root, [fa])
        m2 = evolve_schema(root, adds=[("w", "double")])
        fb = os.path.join(data, "b.parquet")
        pq.write_table(pa.table({"x": pa.array([4], pa.int32()),
                                 "w": pa.array([4.5], pa.float64())}), fb)
        build_table(root, [fb], snapshot_id=2, parent=m2)
        schema = pa.schema([pa.field("x", pa.int32()),
                            pa.field("w", pa.float64())])
        rows = sorted(_decode_tbl(spark, root, schema),
                      key=lambda r: r["x"])
        assert [r["x"] for r in rows] == [1, 2, 3, 4]
        assert [r["w"] for r in rows] == [None, None, None, 4.5]

    def test_drop_column(self, spark, tmp_path):
        from tokenc.iceberg import evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"x": pa.array([1, 2], pa.int32()),
                                 "junk": pa.array(["a", "b"])}), p)
        build_table(root, [p])
        evolve_schema(root, drops=["junk"])
        rows = _decode_tbl(spark, root,
                           pa.schema([pa.field("x", pa.int32())]))
        assert sorted(r["x"] for r in rows) == [1, 2]
        with pytest.raises(ValueError, match="not in the current"):
            _decode_tbl(spark, root,
                        pa.schema([pa.field("junk", pa.string())]))

    def test_field_id_resolution_beats_names(self, spark, tmp_path):
        # a file whose column NAMES are swapped relative to the current
        # schema but whose PARQUET:field_id metadata is correct: the scan
        # must follow the ids, not the names
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        fn = os.path.join(data, "norm.parquet")
        pq.write_table(pa.table({"x": pa.array([1, 2], pa.int32()),
                                 "y": pa.array([10, 20], pa.int32())}), fn)
        m1 = build_table(root, [fn])  # schema ids: x→1, y→2
        fs_ = os.path.join(data, "swapped.parquet")
        sw = pa.schema([
            pa.field("y", pa.int32(),
                     metadata={b"PARQUET:field_id": b"1"}),  # really x
            pa.field("x", pa.int32(),
                     metadata={b"PARQUET:field_id": b"2"}),  # really y
        ])
        pq.write_table(pa.table(
            {"y": pa.array([3], pa.int32()),
             "x": pa.array([30], pa.int32())}, schema=sw), fs_)
        build_table(root, [fs_], snapshot_id=2, parent=m1)
        # footer stats must also have followed the ids: pruning on x > 2
        # keeps the swapped file (its id-1 column holds 3)
        plan = plan_files(root, row_filter=("gt", "x", 2))
        assert [os.path.basename(d.path) for d in plan] == ["swapped.parquet"]
        schema = pa.schema([pa.field("x", pa.int32()),
                            pa.field("y", pa.int32())])
        rows = sorted(_decode_tbl(spark, root, schema),
                      key=lambda r: r["x"])
        assert [(r["x"], r["y"]) for r in rows] == [(1, 10), (2, 20),
                                                    (3, 30)]

    def test_evolution_composes_with_eq_deletes(self, spark, tmp_path):
        # rename AFTER an equality delete was written: the delete file
        # (old column name) must still anti-match via the name mapping
        from tokenc.iceberg import evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int32())}), p)
        m1 = build_table(root, [p])
        build_table(root, [], snapshot_id=2, parent=m1,
                    equality_deletes=(["x"], [(2,)]))
        evolve_schema(root, renames={"x": "y"})
        rows = _decode_tbl(spark, root,
                           pa.schema([pa.field("y", pa.int32())]))
        assert sorted(r["y"] for r in rows) == [1, 3]

    def test_evolve_guards(self, table_dir):
        from tokenc.iceberg import evolve_schema

        root, (f1, _) = table_dir
        build_table(root, [f1])
        with pytest.raises(ValueError, match="unknown column"):
            evolve_schema(root, renames={"zz": "a"})
        with pytest.raises(ValueError, match="unknown column"):
            evolve_schema(root, drops=["zz"])
        with pytest.raises(ValueError, match="already exists"):
            evolve_schema(root, adds=[("x", "long")])
        evolve_schema(root, renames={"x": "x2"})
        meta = table_metadata(root)
        assert meta["current-schema-id"] == 1
        # name mapping carries both names for field id 1
        import json as _json
        nm = _json.loads(
            meta["properties"]["schema.name-mapping.default"])
        assert {"field-id": 1, "names": ["x", "x2"]} in nm

    def test_drop_partition_source_rejected(self, tmp_path):
        from tokenc.iceberg import evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"p": pa.array([1, 1], pa.int32()),
                                 "v": pa.array([5, 6], pa.int32())}), p)
        build_table(root, [p], partition_by=("p",))
        with pytest.raises(ValueError, match="partition source"):
            evolve_schema(root, drops=["p"])


class TestPartitionTransforms:
    def test_murmur3_spec_appendix_goldens(self):
        # the table-spec's Appendix B "32-bit Hash Requirements" examples
        import datetime as dt
        import struct

        from tokenc.iceberg import bucket_value, murmur3_32

        assert murmur3_32(struct.pack("<q", 34)) == 2017239379      # int
        assert murmur3_32(struct.pack("<q", 34)) == \
            murmur3_32(struct.pack("<q", 34))                       # long
        assert murmur3_32(b"iceberg") == 1210000089                 # string
        days = (dt.date(2017, 11, 16) - dt.date(1970, 1, 1)).days
        assert murmur3_32(struct.pack("<q", days)) & 0xFFFFFFFF == \
            (-653330422) & 0xFFFFFFFF                               # date
        # int and long of the same value land in the same bucket
        assert bucket_value(34, "int", 16) == bucket_value(34, "long", 16)

    def test_truncate_transform_values(self):
        from tokenc.iceberg import _truncate_value

        assert _truncate_value(17, 10, "int") == 10
        assert _truncate_value(-3, 10, "int") == -10   # spec floor rule
        assert _truncate_value("abcdef", 3, "string") == "abc"

    @pytest.fixture()
    def bucket_table(self, tmp_path):
        """3 files bucket-partitioned by bucket(4, x): x values chosen so
        each file is one bucket (values passed via partition_values, the
        real bucket-layout case where files are NOT constant in x)."""
        from tokenc.iceberg import bucket_value

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        by_bucket: dict[int, list[int]] = {}
        for v in range(40):
            by_bucket.setdefault(bucket_value(v, "long", 4), []).append(v)
        paths, pvals = [], {}
        for b, vals in sorted(by_bucket.items())[:3]:
            p = os.path.join(data, f"b{b}.parquet")
            pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}), p)
            paths.append(p)
            pvals[p] = {"x_bucket": b}
        build_table(root, paths, partition_by=("bucket(4, x)",),
                    partition_values=pvals)
        return root, by_bucket

    def test_bucket_pruning_point_lookup(self, bucket_table):
        from tokenc.iceberg import bucket_value

        root, by_bucket = bucket_table
        total = len(plan_files(root))
        assert total == 3
        for probe in (0, 1, 7, 23):
            b = bucket_value(probe, "long", 4)
            plan = plan_files(root, row_filter=("eq", "x", probe))
            if b in dict(sorted(by_bucket.items())[:3]):
                assert len(plan) == 1, probe
                assert os.path.basename(plan[0].path) == f"b{b}.parquet"
            else:
                assert plan == []
        # range predicates can't use the bucket: everything kept (sound)
        assert len(plan_files(root, row_filter=("ge", "x", 0))) == total

    def test_truncate_pruning(self, tmp_path):
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for i, vals in enumerate([[0, 3, 9], [10, 15, 19], [20, 27]]):
            p = os.path.join(data, f"t{i}.parquet")
            pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}), p)
            paths.append(p)
        build_table(root, paths, partition_by=("truncate(10, x)",))
        plan = plan_files(root, row_filter=("eq", "x", 15))
        assert [os.path.basename(d.path) for d in plan] == ["t1.parquet"]
        # truncate is order-preserving: ranges prune too
        plan = plan_files(root, row_filter=("gt", "x", 19))
        assert [os.path.basename(d.path) for d in plan] == ["t2.parquet"]

    def test_truncate_string_pruning(self, tmp_path):
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for i, vals in enumerate([["apple", "apricot"], ["banana", "bay"]]):
            p = os.path.join(data, f"s{i}.parquet")
            pq.write_table(pa.table({"s": pa.array(vals)}), p)
            paths.append(p)
        build_table(root, paths, partition_by=("truncate(2, s)",))
        plan = plan_files(root, row_filter=("eq", "s", "basil"))
        assert [os.path.basename(d.path) for d in plan] == ["s1.parquet"]
        assert plan_files(root, row_filter=("eq", "s", "cherry")) == []

    def test_nonconstant_bucket_without_values_rejected(self, tmp_path):
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), p)
        with pytest.raises(ValueError, match="partition_values"):
            build_table(root, [p], partition_by=("bucket(4, x)",))

    def test_bucket_scan_roundtrip(self, spark, bucket_table):
        # encode_iceberg over the bucket-pruned plan decodes exactly the
        # probed bucket's file (merge of pruning + the scan path)
        from tokenc.iceberg import bucket_value

        root, by_bucket = bucket_table
        first3 = dict(sorted(by_bucket.items())[:3])
        probe = next(iter(first3.values()))[0]
        b = bucket_value(probe, "long", 4)
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: F401

        from tokenc.engine import decode_df
        from tokenc.schema import specs_from_arrow_schema

        schema = pa.schema([pa.field("x", pa.int64())])
        specs = specs_from_arrow_schema(schema)
        enc = encode_iceberg(spark, root, specs,
                             row_filter=("eq", "x", probe),
                             target_raw_bytes=1 << 20)
        got = sorted(r["x"] for r in decode_df(enc, specs, schema).collect())
        assert got == sorted(first3[b])

    def test_manifest_summary_bucket_pruning(self, tmp_path, monkeypatch):
        # two snapshots in different buckets: the miss-bucket manifest is
        # pruned from the LIST summaries without being opened
        from tokenc.iceberg import bucket_value
        import tokenc.iceberg as ice

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        by_bucket: dict[int, list[int]] = {}
        for v in range(64):
            by_bucket.setdefault(bucket_value(v, "long", 2), []).append(v)
        ms = []
        for snap, (b, vals) in enumerate(sorted(by_bucket.items()), 1):
            p = os.path.join(data, f"b{b}.parquet")
            pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}), p)
            ms.append(build_table(
                root, [p], snapshot_id=snap,
                parent=ms[-1] if ms else None,
                partition_by=("bucket(2, x)",),
                partition_values={p: {"x_bucket": b}}))
        probe = by_bucket[1][0]
        reads = []
        orig = ice._read_file

        def spy(fs, path):
            reads.append(path)
            return orig(fs, path)

        monkeypatch.setattr(ice, "_read_file", spy)
        plan = plan_files(root, row_filter=("eq", "x", probe))
        assert len(plan) == 1
        opened = [p for p in reads if p.endswith("-m0.avro")]
        assert len(opened) == 1, opened


class TestTimestampTimeTravel:
    def test_as_of_ms_selects_snapshot(self, spark, table_dir, tmp_path):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1], timestamp_ms=100)
        build_table(root, [f2], snapshot_id=2, parent=m1, timestamp_ms=200)
        # between the commits → snapshot 1; after both → snapshot 2
        assert [os.path.basename(d.path)
                for d in plan_files(root, as_of_ms=150)] == ["f0.parquet"]
        assert len(plan_files(root, as_of_ms=200)) == 2
        assert len(plan_files(root, as_of_ms=10**15)) == 2
        with pytest.raises(ValueError, match="no snapshot as of"):
            plan_files(root, as_of_ms=50)
        assert _decode_x(spark, tmp_path, root, as_of_ms=150) == [1, 2, 3]

    def test_as_of_sees_only_older_deletes(self, spark, table_dir,
                                           tmp_path):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1, f2], timestamp_ms=100)
        build_table(root, [], snapshot_id=2, parent=m1,
                    position_deletes={f1: [0]}, timestamp_ms=200)
        assert _decode_x(spark, tmp_path, root, as_of_ms=150) \
            == [1, 2, 3, 4, 5]
        assert _decode_x(spark, tmp_path, root, as_of_ms=250) \
            == [2, 3, 4, 5]


class TestIcebergOnS3:
    def test_s3_table_scan_with_deletes(self, spark):
        """The whole Iceberg front door against a real S3 protocol server:
        metadata walk (version-hint, metadata JSON, Avro manifests), data
        files, and BOTH delete flavors all living under s3://, resolved
        through one pickled S3FileSystem — the reference's remote source
        matrix (source/source.go:9-26) composed with the table format."""
        pytest.importorskip("moto")
        import boto3
        from moto.server import ThreadedMotoServer
        from pyarrow import fs as pafs

        from tokenc.engine import decode_df
        from tokenc.schema import specs_from_arrow_schema

        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        try:
            port = server._server.socket.getsockname()[1]
            endpoint = f"http://127.0.0.1:{port}"
            cli = boto3.client("s3", endpoint_url=endpoint,
                               region_name="us-east-1",
                               aws_access_key_id="test",
                               aws_secret_access_key="test")
            cli.create_bucket(Bucket="bkt")

            import tempfile
            local = tempfile.mkdtemp(prefix="ice_s3_")
            data = os.path.join(local, "data")
            os.makedirs(data)
            paths = []
            for i, vals in enumerate([[1, 2, 3], [4, 5, 6]]):
                p = os.path.join(data, f"f{i}.parquet")
                pq.write_table(
                    pa.table({"x": pa.array(vals, pa.int64())}), p)
                paths.append(p)
            m1 = build_table(local, paths, position_deletes={paths[0]: [1]})
            build_table(local, [], snapshot_id=2, parent=m1,
                        equality_deletes=(["x"], [(6,)]))
            # upload the WHOLE tree: metadata, manifests, data, deletes
            for dirp, _dns, fns in os.walk(local):
                for fn in fns:
                    fp = os.path.join(dirp, fn)
                    key = "tbl/" + os.path.relpath(fp, local)
                    cli.put_object(Bucket="bkt", Key=key,
                                   Body=open(fp, "rb").read())

            s3 = pafs.S3FileSystem(endpoint_override=endpoint,
                                   access_key="test", secret_key="test",
                                   region="us-east-1")
            plan = plan_files("bkt/tbl", filesystem=s3)
            assert [os.path.basename(d.path) for d in plan] \
                == ["f0.parquet", "f1.parquet"]
            assert all(d.path.startswith("bkt/tbl/") for d in plan)

            schema = pa.schema([pa.field("x", pa.int64())])
            specs = specs_from_arrow_schema(schema)
            enc = encode_iceberg(spark, "bkt/tbl", specs, filesystem=s3,
                                 target_raw_bytes=1 << 20)
            got = sorted(r["x"] for r in
                         decode_df(enc, specs, schema).collect())
            # pos delete drops 2 (file 0, pos 1); eq delete drops 6
            assert got == [1, 3, 4, 5]
        finally:
            server.stop()


class TestStreamingPlanMemory:
    def test_100k_entry_plan_bounded_by_manifest(self, tmp_path):
        """Driver memory guard at 10^5–10^6 file scale: iter_plan_files
        holds at most ONE manifest's decoded entries, so an aggregating
        consumer's tracemalloc peak stays far below the materialized
        plan's footprint (10 manifests × 10k entries here)."""
        import json as _json
        import tracemalloc

        from tokenc.iceberg import (MANIFEST_ENTRY_SCHEMA,
                                    MANIFEST_FILE_SCHEMA, iter_plan_files)

        root = str(tmp_path / "bigtbl")
        meta = os.path.join(root, "metadata")
        os.makedirs(meta)
        n_manifests, per = 10, 10_000
        mrecs = []
        for mi in range(n_manifests):
            entries = [{
                "status": 1, "snapshot_id": 1,
                "sequence_number": 1, "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path":
                        f"file://{root}/data/m{mi}/f{j:05d}.parquet",
                    "file_format": "PARQUET", "partition": {},
                    "record_count": 100, "file_size_in_bytes": 1000,
                    "null_value_counts": None, "lower_bounds": None,
                    "upper_bounds": None}} for j in range(per)]
            blob = write_ocf(MANIFEST_ENTRY_SCHEMA, entries, codec="deflate",
                             metadata={"format-version": b"2",
                                       "content": b"data"})
            p = os.path.join(meta, f"m{mi}.avro")
            with open(p, "wb") as f:
                f.write(blob)
            mrecs.append({
                "manifest_path": "file://" + p,
                "manifest_length": len(blob), "partition_spec_id": 0,
                "content": 0, "sequence_number": 1,
                "min_sequence_number": 1, "added_snapshot_id": 1,
                "added_files_count": per, "existing_files_count": 0,
                "deleted_files_count": 0, "added_rows_count": per * 100,
                "existing_rows_count": 0, "deleted_rows_count": 0,
                "partitions": None})
        mlist = os.path.join(meta, "snap-1-1.avro")
        with open(mlist, "wb") as f:
            f.write(write_ocf(MANIFEST_FILE_SCHEMA, mrecs, codec="deflate"))
        metadata = {
            "format-version": 2, "table-uuid": "0" * 8, "location": root,
            "last-column-id": 1, "current-schema-id": 0,
            "schemas": [{"type": "struct", "schema-id": 0,
                         "fields": [{"id": 1, "name": "x",
                                     "required": False, "type": "long"}]}],
            "current-snapshot-id": 1,
            "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                           "timestamp-ms": 0,
                           "manifest-list": "file://" + mlist,
                           "summary": {"operation": "append"}}],
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0}
        with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
            f.write(_json.dumps(metadata))
        with open(os.path.join(meta, "version-hint.text"), "w") as f:
            f.write("1")

        # streaming aggregate: peak ≈ one manifest's decoded entries
        tracemalloc.start()
        n = rows = 0
        for d in iter_plan_files(root):
            n += 1
            rows += d.record_count
        peak_stream = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        assert n == n_manifests * per
        assert rows == n_manifests * per * 100

        # materialized plan for comparison (plan_files' list shape)
        tracemalloc.start()
        files = list(iter_plan_files(root))
        peak_full = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        assert len(files) == n_manifests * per
        assert peak_stream < peak_full / 4, (peak_stream, peak_full)


class TestIcebergOnGcs:
    def test_gcs_table_scan_with_deletes(self, spark):
        """The whole Iceberg front door against a LIVE GCS JSON-API
        protocol server (tests/gcs_emulator.py subprocess — the
        fake-gcs-server role): metadata walk (version-hint, metadata
        JSON, Avro manifests), data files, and BOTH delete flavors all
        under a gs bucket, every byte moved by pyarrow's real
        GcsFileSystem over the wire (driver-side plan_files reads AND
        executor-side data reads). Reference remote source matrix
        source/source.go:9-26 composed with the table format."""
        import datetime

        from pyarrow import fs as pafs

        from gcs_emulator import spawn_emulator
        from tokenc.engine import decode_df
        from tokenc.schema import specs_from_arrow_schema

        proc, endpoint = spawn_emulator(["gbkt"])
        try:
            gcs = pafs.GcsFileSystem(
                anonymous=True, endpoint_override=endpoint, scheme="http",
                retry_time_limit=datetime.timedelta(seconds=5))

            import tempfile
            local = tempfile.mkdtemp(prefix="ice_gcs_")
            data = os.path.join(local, "data")
            os.makedirs(data)
            paths = []
            for i, vals in enumerate([[1, 2, 3], [4, 5, 6]]):
                p = os.path.join(data, f"f{i}.parquet")
                pq.write_table(
                    pa.table({"x": pa.array(vals, pa.int64())}), p)
                paths.append(p)
            m1 = build_table(local, paths, position_deletes={paths[0]: [1]})
            build_table(local, [], snapshot_id=2, parent=m1,
                        equality_deletes=(["x"], [(6,)]))
            # upload the WHOLE tree through the protocol: metadata,
            # manifests, data, deletes (real resumable uploads)
            for dirp, _dns, fns in os.walk(local):
                for fn in fns:
                    fp = os.path.join(dirp, fn)
                    key = "gbkt/tbl/" + os.path.relpath(fp, local)
                    with gcs.open_output_stream(key) as out:
                        out.write(open(fp, "rb").read())

            plan = plan_files("gbkt/tbl", filesystem=gcs)
            assert [os.path.basename(d.path) for d in plan] \
                == ["f0.parquet", "f1.parquet"]
            assert all(d.path.startswith("gbkt/tbl/") for d in plan)

            schema = pa.schema([pa.field("x", pa.int64())])
            specs = specs_from_arrow_schema(schema)
            enc = encode_iceberg(spark, "gbkt/tbl", specs, filesystem=gcs,
                                 target_raw_bytes=1 << 20)
            got = sorted(r["x"] for r in
                         decode_df(enc, specs, schema).collect())
            # pos delete drops 2 (file 0, pos 1); eq delete drops 6
            assert got == [1, 3, 4, 5]
        finally:
            proc.terminate()
            proc.wait(timeout=10)


class TestMovedTableDeletes:
    def test_moved_table_position_deletes_still_apply(self, spark,
                                                      table_dir, tmp_path):
        # the delete parquet's file_path rows hold the ORIGINAL URIs; a
        # moved table must keep matching them (raw_path key, not the
        # re-rooted read path)
        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], position_deletes={f1: [1]})
        moved = str(tmp_path / "moved")
        shutil.move(root, moved)
        assert _decode_x(spark, tmp_path, moved) == [1, 3, 4, 5]


class TestPublishEncodedOutput:
    def test_encode_job_publishes_iceberg_table(self, spark, tmp_path):
        """Input table → encode_job → encoded output PUBLISHED as an
        Iceberg table: the full lineage loop (the job's manifests give
        resume, the Iceberg commit gives downstream scan planning with
        rg_part/rg_idx bounds pruning on the encoded row groups)."""
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), "jobs"))
        import encode_job

        out = str(tmp_path / "enc_out")
        encode_job.main([
            "--out", out, "--mode", "synth", "--n-docs", "400",
            "--slices", "2", "--target-raw-mb", "1",
            "--publish-iceberg", "--publish-timestamp-ms", "123"])

        plan = plan_files(out)
        assert plan and all(d.path.endswith(".parquet") for d in plan)
        meta = table_metadata(out)
        assert meta["current-snapshot-id"] == 1
        assert meta["snapshot-log"] == [
            {"timestamp-ms": 123, "snapshot-id": 1}]
        # encoded-row-group schema round-trips through the field-id schema
        names = [f["name"] for f in meta["schemas"][0]["fields"]]
        assert {"rg_id", "n_rows", "rg_part", "rg_idx"} <= set(names)
        # bounds pruning works on the PUBLISHED encoded table: rg_part
        # equality keeps a strict subset of the data files
        total = len(plan)
        part0 = plan_files(out, row_filter=("eq", "rg_part", 0))
        assert 0 < len(part0) < total
        # and the planned files decode: total rows match the job input
        n = sum(d.record_count for d in plan)
        got = spark.read.parquet(*[d.path for d in plan]) \
            .agg({"n_rows": "sum"}).collect()[0][0]
        assert n == spark.read.parquet(*[d.path for d in plan]).count()
        assert got == 400


class TestCompaction:
    """compact_table: bin-pack + delete materialization + REPLACE commit
    (tokenc/iceberg.py; the Iceberg analog of rewrite_data_files — no
    reference counterpart, the reference has no table layer)."""

    def test_merge_and_materialize_position_deletes(self, spark, table_dir,
                                                    tmp_path):
        from tokenc.iceberg import compact_table

        root, (f1, f2) = table_dir  # f0: [1,2,3], f1: [4,5]
        build_table(root, [f1, f2], position_deletes={f1: [1], f2: [0]})
        meta, report = compact_table(spark, root)
        assert report["outputs"] == 1 and report["rewritten"] == 2
        plan = plan_files(root)
        assert len(plan) == 1 and "compact-snap2" in plan[0].path
        # merge-on-read debt is gone: the REPLACE snapshot has no deletes
        assert plan_deletes(root) == []
        assert _decode_x(spark, tmp_path, root) == [1, 3, 5]
        # time travel to the pre-compaction snapshot still merges-on-read
        assert _decode_x(spark, tmp_path, root, snapshot_id=1) == [1, 3, 5]
        assert len(plan_deletes(root, snapshot_id=1)) == 1
        assert meta["snapshots"][-1]["summary"]["operation"] == "replace"

    def test_equality_deletes_materialized(self, spark, table_dir, tmp_path):
        from tokenc.iceberg import compact_table

        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1, f2])
        build_table(root, [], snapshot_id=2, parent=m1,
                    equality_deletes=(["x"], [(2,), (5,)]))
        assert _decode_x(spark, tmp_path, root) == [1, 3, 4]
        _, report = compact_table(spark, root)
        assert report["deletes_applied"] == 1
        assert plan_deletes(root) == []
        assert _decode_x(spark, tmp_path, root) == [1, 3, 4]

    def test_carry_forward_keeps_stats_and_bounds(self, spark, tmp_path):
        from tokenc.iceberg import compact_table

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        big = os.path.join(data, "big.parquet")
        pq.write_table(pa.table({"x": pa.array(range(100, 50000),
                                               pa.int32())}), big)
        smalls = []
        for i in range(3):
            p = os.path.join(data, f"s{i}.parquet")
            pq.write_table(pa.table({"x": pa.array([i], pa.int32())}), p)
            smalls.append(p)
        build_table(root, [big] + smalls)
        target = os.path.getsize(big)  # big is a singleton clean bin
        _, report = compact_table(spark, root, target_file_bytes=target)
        assert report["carried"] == 1 and report["outputs"] == 1
        plan = plan_files(root)
        assert sorted(os.path.basename(d.path) for d in plan) \
            == sorted(["big.parquet",
                       os.path.basename([d.path for d in plan
                                         if "compact" in d.path][0])])
        # the carried file kept its bounds: pruning still drops it
        pruned = plan_files(root, row_filter=("le", "x", 2))
        assert [os.path.basename(d.path) for d in pruned] \
            == [os.path.basename(d.path) for d in plan
                if "compact" in d.path]
        assert _decode_x(spark, tmp_path, root) \
            == [0, 1, 2] + list(range(100, 50000))

    def test_partitioned_compaction_groups_per_partition(self, spark,
                                                         tmp_path):
        from tokenc.iceberg import compact_table

        root = str(tmp_path / "ptbl")
        data = os.path.join(root, "data")
        os.makedirs(data)

        def mk(name, p, xs):
            path = os.path.join(data, name)
            pq.write_table(pa.table(
                {"p": pa.array([p] * len(xs), pa.int32()),
                 "x": pa.array(xs, pa.int64())}), path)
            return path

        m1 = build_table(root, [mk("a0.parquet", 1, [1, 2]),
                                mk("a1.parquet", 1, [3, 4])],
                         partition_by=("p",))
        build_table(root, [mk("b0.parquet", 2, [5, 6]),
                           mk("b1.parquet", 2, [7, 8])], snapshot_id=2,
                    parent=m1, partition_by=("p",))
        _, report = compact_table(spark, root)
        assert report["outputs"] == 2  # one merged file per partition
        plan = plan_files(root)
        assert len(plan) == 2
        assert sorted(d.partition["p"] for d in plan) == [1, 2]
        # partition pruning works on the compacted layout
        only2 = plan_files(root, row_filter=("eq", "p", 2))
        assert len(only2) == 1 and only2[0].partition == {"p": 2}
        meta = table_metadata(root)
        assert meta["partition-specs"][0]["fields"][0]["name"] == "p"

    def test_eight_units_yield_eight_outputs(self, spark, tmp_path):
        """One task per compaction unit: every one of 8 per-partition
        groups is rewritten, none doubled up or dropped."""
        from tokenc.iceberg import compact_table

        root = str(tmp_path / "ptbl8")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for p in range(8):
            for j in range(2):
                path = os.path.join(data, f"p{p}_{j}.parquet")
                pq.write_table(pa.table(
                    {"p": pa.array([p] * 2, pa.int32()),
                     "x": pa.array([4 * p + 2 * j, 4 * p + 2 * j + 1],
                                   pa.int64())}), path)
                paths.append(path)
        build_table(root, paths, partition_by=("p",))
        _, report = compact_table(spark, root)
        assert report["outputs"] == 8 and report["rows_written"] == 32
        plan = plan_files(root)
        assert len(plan) == 8
        assert all("compact" in d.path for d in plan)
        assert sorted(d.partition["p"] for d in plan) == list(range(8))
        got = pq.read_table([d.path for d in plan])["x"].to_pylist()
        assert sorted(got) == list(range(32))

    def test_null_key_eq_delete_on_added_column_stays_applied(
            self, spark, tmp_path):
        """An equality delete keyed on (x, b), b added after the files
        were written: the files read b as null, so the delete row
        (2, NULL) matches x=2. Compaction must drop that row like the scan
        does, not bring it back."""
        from tokenc.iceberg import compact_table, evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for name, xs in (("a.parquet", [1, 2, 3]), ("b.parquet", [7])):
            paths.append(os.path.join(data, name))
            pq.write_table(pa.table({"x": pa.array(xs, pa.int32())}),
                           paths[-1])
        build_table(root, paths)
        m2 = evolve_schema(root, adds=[("b", "int")])
        build_table(root, [], snapshot_id=2, parent=m2,
                    equality_deletes=(["x", "b"], [(2, None)]))
        schema = pa.schema([pa.field("x", pa.int32()),
                            pa.field("b", pa.int32())])

        def scan():
            return sorted((r["x"], r["b"])
                          for r in _decode_tbl(spark, root, schema))

        before = scan()
        assert before == [(1, None), (3, None), (7, None)]
        _, report = compact_table(spark, root)
        assert report["rows_written"] == 3
        assert plan_deletes(root) == []
        assert scan() == before

    def test_added_timestamp_column_compacts(self, spark, tmp_path):
        """Files that predate an added timestamp column read it as null,
        in the scan and in the compaction rewrite alike."""
        from tokenc.iceberg import compact_table, evolve_schema

        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for name, xs in (("a.parquet", [1, 2]), ("b.parquet", [3])):
            paths.append(os.path.join(data, name))
            pq.write_table(pa.table({"x": pa.array(xs, pa.int32())}),
                           paths[-1])
        build_table(root, paths)
        evolve_schema(root, adds=[("ts", "timestamp")])
        schema = pa.schema([pa.field("x", pa.int32()),
                            pa.field("ts", pa.timestamp("us"))])

        def scan():
            return sorted((r["x"], r["ts"])
                          for r in _decode_tbl(spark, root, schema))

        before = scan()
        assert before == [(1, None), (2, None), (3, None)]
        _, report = compact_table(spark, root)
        assert report["outputs"] == 1 and report["rows_written"] == 3
        assert scan() == before

    @staticmethod
    def _mixed_width_table(tmp_path, b_values):
        """Data files a.parquet x:int32 [1,2,3] and b.parquet x:int64
        `b_values`."""
        root = str(tmp_path / "tbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        paths = []
        for name, xs, t in (("a.parquet", [1, 2, 3], pa.int32()),
                            ("b.parquet", b_values, pa.int64())):
            paths.append(os.path.join(data, name))
            pq.write_table(pa.table({"x": pa.array(xs, t)}), paths[-1])
        return root, paths

    def test_mixed_column_widths_compact(self, spark, tmp_path):
        """Files storing one column at different Arrow widths merge into
        one output at the current schema's type."""
        from tokenc.iceberg import compact_table

        root, paths = self._mixed_width_table(tmp_path, [7])
        build_table(root, paths)
        before = _decode_x(spark, tmp_path, root)
        assert before == [1, 2, 3, 7]
        _, report = compact_table(spark, root)
        assert report["rows_written"] == 4
        assert _decode_x(spark, tmp_path, root) == before

    def test_mixed_width_value_out_of_range_raises(self, tmp_path):
        """The cast to the current type is safe: an int64 value that does
        not fit the int32 column raises instead of wrapping."""
        from tokenc.files import _read_data_file

        _, (_, b) = self._mixed_width_table(tmp_path, [7, 1 << 40])
        pf = pq.ParquetFile(b)
        with pytest.raises(pa.ArrowInvalid):
            list(_read_data_file(pf, range(1), {"x": pa.int32()}, None,
                                 None, b, b, 0, None, None, {}))

    def test_out_of_range_file_rejected_by_name(self, tmp_path):
        """build_table rejects a data file whose column holds a value the
        table's type cannot hold, naming the file and the column."""
        root, (_, b) = self._mixed_width_table(tmp_path, [7, 1 << 40])
        with pytest.raises(ValueError, match="b.parquet.*'x'"):
            build_table(root, [os.path.join(root, "data", "a.parquet"), b])

    def test_noop_returns_current_metadata(self, spark, table_dir):
        from tokenc.iceberg import compact_table

        root, (f1, f2) = table_dir
        build_table(root, [f1])  # one clean file: nothing to do
        before = table_metadata(root)
        meta, report = compact_table(spark, root)
        assert report["outputs"] == 0 and report["carried"] == 1
        assert meta["current-snapshot-id"] \
            == before["current-snapshot-id"]


class TestExpireSnapshots:
    def test_expiry_reclaims_compacted_smalls(self, spark, table_dir,
                                              tmp_path):
        from tokenc.iceberg import compact_table, expire_snapshots

        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], position_deletes={f1: [1]})
        compact_table(spark, root)
        assert os.path.exists(f1)  # history still references the smalls
        meta, report = expire_snapshots(root, keep_last=1)
        assert report["expired"] == 1
        # pre-compaction data + delete parquets and manifests are gone
        assert not os.path.exists(f1) and not os.path.exists(f2)
        assert [s["snapshot-id"] for s in meta["snapshots"]] == [2]
        # the surviving snapshot still scans correctly
        assert _decode_x(spark, tmp_path, root) == [1, 3, 4, 5]

    def test_shared_files_survive(self, spark, table_dir):
        from tokenc.iceberg import expire_snapshots

        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])
        build_table(root, [f2], snapshot_id=2, parent=m1)
        # snapshot 2's manifest list re-links snapshot 1's manifest → f1 is
        # shared; expiring snapshot 1 must not delete it
        _, report = expire_snapshots(root, keep_last=1)
        assert report["expired"] == 1
        assert os.path.exists(f1) and os.path.exists(f2)
        assert len(plan_files(root)) == 2

    def test_dry_run_deletes_nothing(self, spark, table_dir):
        from tokenc.iceberg import expire_snapshots

        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1])
        build_table(root, [f2], snapshot_id=2, parent=m1)
        meta, report = expire_snapshots(root, keep_last=1, dry_run=True)
        assert report["expired"] == 1
        assert len(meta["snapshots"]) == 2  # metadata not rewritten
        assert os.path.exists(f1)

    def test_older_than_keeps_recent(self, table_dir):
        from tokenc.iceberg import expire_snapshots

        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1], timestamp_ms=1000)
        build_table(root, [f2], snapshot_id=2, parent=m1, timestamp_ms=2000)
        _, report = expire_snapshots(root, keep_last=1, older_than_ms=500)
        assert report["expired"] == 0  # both at/after the cutoff


class TestCompactJob:
    def test_cli_end_to_end(self, spark, table_dir, tmp_path, capsys):
        import json as _json

        from jobs.compact_job import main as compact_main

        root, (f1, f2) = table_dir
        build_table(root, [f1, f2], position_deletes={f2: [0]})
        compact_main(["--table", root, "--dry-run"])
        dry = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert dry["compact"]["outputs"] == 1
        assert os.path.exists(f1)  # dry run rewrote nothing
        compact_main(["--table", root, "--expire-keep-last", "1"])
        rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["compact"]["outputs"] == 1
        assert rep["expire"]["expired"] == 1
        assert not os.path.exists(f2)
        assert _decode_x(spark, tmp_path, root) == [1, 2, 3, 5]


class TestRound5ReviewHardening:
    """Regressions from the round-5 iceberg/engine review: single-value
    serialization gaps, promotion widths, surrogate truncation, sequence
    ordering, time-travel schema resolution."""

    def test_decimal_single_value_roundtrip(self):
        from decimal import Decimal

        for v in (Decimal("1.23"), Decimal("-0.01"), Decimal("0"),
                  Decimal("99999999.99"), Decimal("-12345678.90")):
            b = ser_value(v, "decimal(10, 2)", ROUND_FLOOR)
            assert deser_value(b, "decimal(10, 2)") == v
        # spec: minimum bytes, big-endian two's complement
        t = "decimal(10, 2)"
        assert ser_value(Decimal("1.23"), t, ROUND_FLOOR) == b"\x7b"
        assert ser_value(Decimal("-1.23"), t, ROUND_FLOOR) == b"\x85"

    def test_uuid_fixed_passthrough(self):
        raw = bytes(range(16))
        assert deser_value(ser_value(raw, "uuid", ROUND_FLOOR), "uuid") == raw
        assert deser_value(ser_value(raw, "fixed[16]", ROUND_FLOOR),
                           "fixed[16]") == raw

    def test_type_promotion_bound_widths(self):
        import struct as st

        # int->long / float->double promotion: old files carry 4-byte
        # bounds under the promoted schema type
        assert deser_value(st.pack("<i", 41), "long") == 41
        assert deser_value(st.pack("<f", 2.5), "double") == 2.5
        assert deser_value(st.pack("<q", 41), "long") == 41

    def test_deser_bound_never_raises(self):
        from tokenc.iceberg import deser_bound

        assert deser_bound(None, "long") is None
        assert deser_bound(b"\x01", "long") is None          # bad width
        assert deser_bound(b"\xff", "decimal(10, 2)") is not None
        assert deser_bound(b"\x07\x00\x00\x00", "int") == 7

    def test_trunc_upper_skips_surrogate_block(self):
        s = "x" * 15 + "퟿" + "tail-beyond-16-chars"
        out = _trunc_upper(s)
        assert out == "x" * 15 + ""
        out.encode("utf-8")  # must be encodable (no lone surrogate)
        assert out >= s[:16]

    def test_build_table_with_decimal_stats(self, tmp_path):
        from decimal import Decimal

        root = str(tmp_path / "dec")
        os.makedirs(os.path.join(root, "data"))
        p = os.path.join(root, "data", "d.parquet")
        pq.write_table(pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "price": pa.array([Decimal("1.10"), Decimal("2.20"),
                               Decimal("0.50")], pa.decimal128(10, 2)),
        }), p)
        build_table(root, [p])  # must not raise (decimal footer stats)
        # planning with a filter on ANOTHER column must survive the
        # decimal bounds in the manifest
        plan = plan_files(root, row_filter=("eq", "id", 2))
        assert [os.path.basename(d.path) for d in plan] == ["d.parquet"]

    def test_out_of_order_append_rejected(self, table_dir):
        root, (f1, f2) = table_dir
        m1 = build_table(root, [f1], snapshot_id=5)
        with pytest.raises(ValueError, match="last-sequence-number"):
            build_table(root, [f2], snapshot_id=3, parent=m1)

    def test_time_travel_reads_snapshot_schema(self, spark, tmp_path):
        """Drop + re-add a column between snapshots: a time-travel read of
        the OLD snapshot must resolve the column by the snapshot schema's
        field id (old files carry it) — not the re-added field's new id,
        which would silently null the data."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import decode_df
        from tokenc.iceberg import evolve_schema
        from tokenc.schema import specs_from_arrow_schema

        root = str(tmp_path / "tt")
        os.makedirs(os.path.join(root, "data"))
        p1 = os.path.join(root, "data", "a.parquet")
        # field-id'd file: id resolution MUST be used (no name fallback),
        # so resolving with the re-added x's new id would yield nulls
        t1 = pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                       "x": pa.array([10, 20, 30], pa.int64())})
        t1 = t1.cast(pa.schema([
            pa.field("k", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("x", pa.int64(),
                     metadata={b"PARQUET:field_id": b"2"})]))
        pq.write_table(t1, p1)
        build_table(root, [p1], snapshot_id=1)
        evolve_schema(root, drops=["x"])
        evolve_schema(root, adds=[("x", "long")])  # fresh field id
        p2 = os.path.join(root, "data", "b.parquet")
        # new file: x under the NEW field id (names only, no field ids)
        pq.write_table(pa.table({"k": pa.array([4], pa.int64()),
                                 "x": pa.array([99], pa.int64())}), p2)
        build_table(root, [p2], snapshot_id=2,
                    parent=table_metadata(root))

        df = spark.createDataFrame([(1, 10)], "k long, x long")
        aschema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(aschema)
        enc = encode_iceberg(spark, root, specs, snapshot_id=1)
        out = decode_df(enc, specs, aschema).orderBy("k").collect()
        assert [(r["k"], r["x"]) for r in out] == [(1, 10), (2, 20), (3, 30)]

    def test_partition_name_remap_external_spec(self):
        """compact_table republishes through build_table, which keys
        partition values by regenerated Java-default field names; an
        external table naming its bucket field 'bkt' must remap by
        position (identity is source-id + transform, not the name)."""
        from tokenc.iceberg import _partition_name_remap

        meta = {
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "bkt", "transform": "bucket[8]",
                 "source-id": 1, "field-id": 1000},
                {"name": "lang", "transform": "identity",
                 "source-id": 2, "field-id": 1001}]}],
            "schemas": [{"schema-id": 0, "fields": [
                {"id": 1, "name": "user_id", "type": "long"},
                {"id": 2, "name": "lang", "type": "string"}]}],
            "current-schema-id": 0,
        }
        assert _partition_name_remap(meta) == {"bkt": "user_id_bucket"}
        # default-named spec → no remap
        meta["partition-specs"][0]["fields"][0]["name"] = "user_id_bucket"
        assert _partition_name_remap(meta) == {}

    def test_composite_eq_delete_null_matches_null(self, spark, tmp_path):
        """Spec equality: null matches null (Java StructLikeSet is
        null-safe). pa.Table.join never matches null keys, so the
        composite path joins on (filled value, null flag) pairs; a
        delete row (1, NULL) must remove the data row (1, NULL) and
        nothing else, consistently with the single-column is_in path."""
        from tokenc.iceberg import build_table as _bt

        root = str(tmp_path / "nulltbl")
        data = os.path.join(root, "data")
        os.makedirs(data)
        p = os.path.join(data, "f.parquet")
        pq.write_table(pa.table({
            "g": pa.array([1, 1, 2, None], pa.int64()),
            "name": pa.array(["a", None, None, None]),
            "v": pa.array([10, 20, 30, 40], pa.int32())}), p)
        m1 = _bt(root, [p])
        _bt(root, [], snapshot_id=2, parent=m1,
            equality_deletes=(["g", "name"], [(1, None), (None, None)]))
        schema = pa.schema([pa.field("g", pa.int64()),
                            pa.field("name", pa.string()),
                            pa.field("v", pa.int32())])
        rows = _decode_tbl(spark, root, schema)
        # (1,NULL,20) and (NULL,NULL,40) deleted; (1,'a') and (2,NULL) stay
        assert sorted(r["v"] for r in rows) == [10, 30]
