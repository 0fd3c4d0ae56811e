"""The shared encode accumulator and decode core behind every frontend.

Every encoder (encode_df, encode_files, local.write_table) cuts row groups
with engine._encode_batches and every Spark decoder assembles Arrow with
engine._decode_groups, so the same source must encode to the same row
groups and decode to the same rows whichever frontend runs it.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from tokenc.schema import specs_from_arrow_schema

N_ROWS = 2000      # one Spark Arrow batch (4096 cap) and one parquet batch
TARGET = 128 << 10  # the single source batch is ~8x this
# forced codecs: the per-worker selector memo may hold picks from earlier
# tests, so auto-selection could differ between frontends
CODECS = {"doc_id": "fsst", "tokens": "for", "n_tok": "rles",
          "source": "dict"}


def _source_df(spark):
    """Uniform rows (fixed-width id, 128 tokens): every row has the same
    Arrow size, so a row group's bytes are its row count times that."""
    from pyspark.sql import functions as F

    return spark.range(0, N_ROWS, 1, 1).select(
        F.format_string("d%06d", "id").alias("doc_id"),
        F.expr("transform(sequence(0, 127), x -> cast(x * 7 + id as int))")
        .alias("tokens"),
        F.lit(128).alias("n_tok"),
        F.lit("web").alias("source"))


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("core")
    _source_df(spark).coalesce(1).write.parquet(str(d / "src"))
    path = glob.glob(str(d / "src" / "*.parquet"))[0]
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    table = pq.read_table(path)
    specs = specs_from_arrow_schema(table.schema, codec_overrides=CODECS)
    return d, path, table, specs


def _groups(tbl) -> list[tuple[int, str]]:
    """(n_rows, rg_id) in (rg_part, rg_idx) order."""
    rows = sorted(zip(tbl["rg_part"].to_pylist(), tbl["rg_idx"].to_pylist(),
                      tbl["n_rows"].to_pylist(), tbl["rg_id"].to_pylist()))
    return [(n, rg) for _, _, n, rg in rows]


def _rows(tbl, names) -> list[tuple]:
    cols = [tbl.column(c).to_pylist() for c in names]
    return sorted(zip(*cols))


def test_oversized_batch_cut_into_target_sized_groups(spark, src):
    """One Arrow batch of ~8x the target: each slice is its own row group,
    so no group holds two slices (the old accumulator buffered them in
    pairs, 2x the target)."""
    from tokenc.engine import encode_df

    _, _, table, specs = src
    per_row = table.nbytes / table.num_rows
    assert table.nbytes >= 4 * TARGET
    enc = encode_df(_source_df(spark), specs, target_raw_bytes=TARGET) \
        .select("rg_part", "rg_idx", "n_rows", "rg_id").toArrow()
    n_rows = [n for n, _ in _groups(enc)]
    assert sum(n_rows) == N_ROWS and len(n_rows) > 4
    assert max(n_rows) * per_row <= 1.25 * TARGET


def test_frontends_agree(spark, src):
    """encode_df, encode_files and local.write_table cut the same row
    groups; decode_df, decode_files, read_range, scan and local.read_table
    return the source rows bit for bit."""
    from tokenc import local
    from tokenc.engine import decode_df, encode_df, read_range, scan
    from tokenc.files import decode_files, encode_files

    d, path, table, specs = src
    names = table.column_names
    want = _rows(table, names)

    by_df = encode_df(_source_df(spark), specs, target_raw_bytes=TARGET) \
        .select("rg_part", "rg_idx", "n_rows", "rg_id").toArrow()
    enc_dir = str(d / "enc")
    encode_files(spark, [path], specs, target_raw_bytes=TARGET) \
        .write.mode("overwrite").parquet(enc_dir)
    by_files = pq.read_table(enc_dir,
                             columns=["rg_part", "rg_idx", "n_rows", "rg_id"])
    local_dir = str(d / "local")
    local.write_table(table, local_dir, specs=specs, target_raw_bytes=TARGET)
    by_local = pq.read_table(os.path.join(local_dir, "part-00000.parquet"),
                             columns=["rg_part", "rg_idx", "n_rows", "rg_id"])
    assert len(_groups(by_df)) > 1
    assert _groups(by_df) == _groups(by_files) == _groups(by_local)

    schema = table.schema
    enc = spark.read.parquet(enc_dir)
    decoded = {
        "decode_df": decode_df(enc, specs, schema),
        "decode_files": decode_files(spark, enc_dir, specs, schema),
        "read_range": read_range(enc, specs, schema, 0, N_ROWS),
        "scan": scan(enc, specs, schema, [("doc_id", ">=", "d")]),
    }
    for name, df in decoded.items():
        assert _rows(df.toArrow(), names) == want, name
    assert _rows(local.read_table(local_dir), names) == want


def test_decode_tasks_yield_at_most_decode_groups(spark, monkeypatch):
    """Every Spark decode task yields batches of at most DECODE_GROUPS row
    groups: the task functions of decode_df, scan's task path and
    read_range run here in-process on their whole input (10 groups of 100
    rows) as ONE Arrow batch."""
    import tokenc.engine as eng
    from pyspark.sql import functions as F

    src = spark.range(0, 1000, 1, 10).select(
        F.format_string("d%06d", "id").alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.lit(1).alias("n_tok"), F.lit("web").alias("source"))
    schema = src.limit(0).toArrow().schema
    specs = specs_from_arrow_schema(schema)
    enc = eng.encode_df(src, specs).cache()
    assert enc.count() == 10

    tasks = []
    cls = type(enc)
    orig = cls.mapInArrow

    def spy(self, fn, *a, **k):
        tasks.append((self, fn))
        return orig(self, fn, *a, **k)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    monkeypatch.setattr(eng, "DECODE_BATCH_BYTES", -1)
    eng.decode_df(enc, specs, schema)
    eng.scan(enc, specs, schema, [("doc_id", ">=", "d")])
    eng.read_range(enc, specs, schema, 0, 1000)
    assert len(tasks) == 3
    for df, fn in tasks:
        (batch,) = df.toArrow().combine_chunks().to_batches()
        assert batch.num_rows == 10
        sizes = [b.num_rows for b in fn(iter([batch]))]
        assert sizes == [400, 400, 200], sizes


def test_rg_id_covers_every_blob_byte():
    """Two groups equal in row count and in each blob's first and last
    256 bytes, one token apart in the middle, get different rg_ids (the
    index fingerprint and the driver's group cache rely on them)."""
    import numpy as np
    import pyarrow as pa

    from tokenc.engine import _encode_rowgroup

    toks = np.arange(4000, dtype=np.int32)
    other = toks.copy()
    other[2000] = 1999
    specs = specs_from_arrow_schema(pa.schema([("tokens", pa.int32())]),
                                    codec_overrides={"tokens": "plain"})
    a, b = (_encode_rowgroup(pa.table({"tokens": t}), specs)
            for t in (toks, other))
    ba, bb = a["tokens_blob"], b["tokens_blob"]
    assert a["n_rows"] == b["n_rows"] and len(ba) == len(bb) > 512
    assert ba[:256] == bb[:256] and ba[-256:] == bb[-256:] and ba != bb
    assert a["rg_id"] != b["rg_id"]
