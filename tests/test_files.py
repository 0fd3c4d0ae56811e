"""File-granular encode path (tokenc/files.py): parity with the DataFrame
path, row-group split distribution, and read_range over file ordering."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tokenc.datagen import TOKENS_ARROW_SCHEMA, synth_tokens_df
from tokenc.engine import decode_df, encode_df, read_range
from tokenc.files import encode_files, list_parquet_files
from tokenc.schema import specs_from_arrow_schema

SPECS = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tokens_src"))
    synth_tokens_df(spark, 2000, seed=7, mean_tokens=64, partitions=6) \
        .write.mode("overwrite").parquet(d)
    return d


class TestEncodeFiles:
    def test_parity_with_dataframe_path(self, spark, src_dir):
        encf = encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10)
        encd = encode_df(spark.read.parquet(src_dir), SPECS,
                         target_raw_bytes=256 << 10)
        cols = [F.sum("n_rows").alias("rows")] + [
            F.sum(f"{s.name}_meta.raw_bytes").alias(s.name) for s in SPECS]
        assert encf.select(*cols).collect() == encd.select(*cols).collect()

    def test_decode_bit_identity(self, spark, src_dir):
        enc = encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10)
        dec = decode_df(enc, SPECS, TOKENS_ARROW_SCHEMA)
        a = spark.read.parquet(src_dir).orderBy("doc_id").toPandas()
        b = dec.orderBy("doc_id").toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        for x, y in zip(a["tokens"], b["tokens"]):
            np.testing.assert_array_equal(x, y)

    def test_explicit_file_list(self, spark, src_dir):
        files = list_parquet_files(src_dir)
        assert len(files) >= 2
        enc = encode_files(spark, files[:2], SPECS)
        per_file = spark.read.parquet(src_dir)  # full table for sizing only
        assert 0 < enc.agg(F.sum("n_rows")).collect()[0][0] < per_file.count()

    def test_tasks_per_file_split(self, spark, src_dir):
        whole = encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10)
        split = encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10,
                             tasks_per_file=3)
        assert (whole.agg(F.sum("n_rows")).collect()
                == split.agg(F.sum("n_rows")).collect())

    def test_read_range_follows_file_order(self, spark, src_dir):
        enc = encode_files(spark, src_dir, SPECS, target_raw_bytes=64 << 10).cache()
        # expected global order: files sorted, rows in file order
        import pyarrow.parquet as pq

        ids = []
        for f in list_parquet_files(src_dir):
            ids.extend(pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist())
        got = (read_range(enc, SPECS, TOKENS_ARROW_SCHEMA, 150, 40)
               .select("doc_id").toPandas()["doc_id"].tolist())
        assert sorted(got) == sorted(ids[150:190])
        enc.unpersist()

    def test_read_range_with_split_and_large_parquet_rgs(self, spark, tmp_path):
        """Regression: parquet row groups LARGER than the flush size combined
        with tasks_per_file>1 must still order rows by file position
        (rg_idx = absolute row offset, contiguous rg ranges per split)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = 80_000
        tbl = pa.table({
            "doc_id": [f"d{i:07d}" for i in range(n)],
            "tokens": [[i % 100, (i * 7) % 100] for i in range(n)],
            "n_tok": pa.array([2] * n, pa.int32()),
            "source": ["s"] * n,
        }).cast(TOKENS_ARROW_SCHEMA)
        path = str(tmp_path / "big_rgs.parquet")
        pq.write_table(tbl, path, row_group_size=20_000)  # 4 parquet rgs
        # flush ≈ few hundred KB << one 20k-row parquet rg → many flushes/rg
        enc = encode_files(spark, [path], SPECS, target_raw_bytes=200 << 10,
                           tasks_per_file=2).cache()
        assert enc.count() > 4
        got = (read_range(enc, SPECS, TOKENS_ARROW_SCHEMA, 10_000, 200)
               .select("doc_id").toPandas()["doc_id"].tolist())
        assert sorted(got) == [f"d{i:07d}" for i in range(10_000, 10_200)]
        # a range straddling the split boundary (rows 39900..40100)
        got2 = (read_range(enc, SPECS, TOKENS_ARROW_SCHEMA, 39_900, 200)
                .select("doc_id").toPandas()["doc_id"].tolist())
        assert sorted(got2) == [f"d{i:07d}" for i in range(39_900, 40_100)]
        enc.unpersist()

    def test_missing_dir_raises(self, spark):
        with pytest.raises(ValueError, match="no parquet files"):
            encode_files(spark, "/nonexistent/nowhere", SPECS)

    def test_file_uri_scheme_parity(self, spark, src_dir):
        """file:// URI and plain path must produce identical encodes, and
        the DataFrame path must accept a file:// source too (the non-local
        scheme goes through Spark's Hadoop FS)."""
        plain = encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10)
        uri = encode_files(spark, f"file://{src_dir}", SPECS,
                           target_raw_bytes=256 << 10)
        cols = [F.sum("n_rows")] + [F.sum(f"{s.name}_meta.raw_bytes") for s in SPECS]
        assert plain.select(*cols).collect() == uri.select(*cols).collect()
        df = spark.read.parquet(f"file://{src_dir}")
        enc = encode_df(df, SPECS, target_raw_bytes=256 << 10)
        assert (enc.agg(F.sum("n_rows")).collect()
                == plain.agg(F.sum("n_rows")).collect())


class TestDecodeFiles:
    @pytest.fixture(scope="class")
    def enc_dir(self, spark, src_dir, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("enc"))
        encode_files(spark, src_dir, SPECS, target_raw_bytes=256 << 10) \
            .write.mode("overwrite").parquet(d)
        return d

    def test_decode_files_bit_identity(self, spark, src_dir, enc_dir):
        from tokenc.files import decode_files

        dec = decode_files(spark, enc_dir, SPECS, TOKENS_ARROW_SCHEMA)
        a = spark.read.parquet(src_dir).orderBy("doc_id").toPandas()
        b = dec.orderBy("doc_id").toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        for x, y in zip(a["tokens"], b["tokens"]):
            np.testing.assert_array_equal(x, y)

    def test_invariants_files_match_source(self, spark, src_dir, enc_dir):
        """decode_invariants_files reduces every decoded chunk; the sums
        equal the source's own: rows, value counts, token and n_tok sums
        and string byte sums."""
        from tokenc.files import decode_invariants_files

        got = {r["column"]: r for r in (
            decode_invariants_files(spark, enc_dir, SPECS)
            .groupBy("column").agg(F.sum("n_rows").alias("r"),
                                   F.sum("n_values").alias("v"),
                                   F.sum("num_sum").alias("s"),
                                   F.sum("byte_sum").alias("b"))
            .collect())}
        tok = F.col("tokens")
        src = spark.read.parquet(src_dir).agg(
            F.count("*").alias("rows"),
            F.sum(F.when(tok.isNotNull(), F.size(tok))).alias("tok_v"),
            F.sum(F.aggregate(tok, F.lit(0).cast("long"),
                              lambda acc, x: acc + x)).alias("tok_s"),
            F.count("n_tok").alias("n_tok_v"),
            F.sum("n_tok").alias("n_tok_s"),
            *[c for name in ("doc_id", "source") for c in (
                F.count(name).alias(f"{name}_v"),
                F.sum(F.octet_length(name)).alias(f"{name}_b"))],
        ).collect()[0]
        assert set(got) == {s.name for s in SPECS}
        assert all(r["r"] == src["rows"] for r in got.values())
        assert (got["tokens"]["v"], got["tokens"]["s"]) == (
            src["tok_v"], src["tok_s"])
        assert (got["n_tok"]["v"], got["n_tok"]["s"]) == (
            src["n_tok_v"], src["n_tok_s"])
        for name in ("doc_id", "source"):
            assert (got[name]["v"], got[name]["b"]) == (
                src[f"{name}_v"], src[f"{name}_b"])

    def test_repeated_file_list_scales_invariants(self, spark, enc_dir):
        """Passing the file list N times (the bench amortization) must
        produce exactly N× the single-pass invariant sums."""
        from tokenc.files import decode_invariants_files, list_parquet_files

        files = list_parquet_files(enc_dir)
        one = (decode_invariants_files(spark, files, SPECS)
               .agg(F.sum("n_rows"), F.sum("num_sum")).collect()[0])
        three = (decode_invariants_files(spark, files * 3, SPECS)
                 .agg(F.sum("n_rows"), F.sum("num_sum")).collect()[0])
        assert three[0] == 3 * one[0]
        assert abs(three[1] - 3 * one[1]) < 1e-6 * max(abs(three[1]), 1)


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestUnitTasks:
    """Work units reach tasks through _unit_tasks: a spark.range with one
    row per task and a contiguous unit slice per task — one wave by
    default, no shuffle."""

    @pytest.fixture(scope="class")
    def eight_dir(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("eight_src"))
        synth_tokens_df(spark, 800, seed=11, mean_tokens=16, partitions=8) \
            .write.mode("overwrite").parquet(d)
        assert len(list_parquet_files(d)) == 8
        return d

    @pytest.mark.parametrize("n_tasks", [None, 3, 8, 20])
    def test_roundtrip_at_any_task_count(self, spark, eight_dir, tmp_path,
                                         n_tasks):
        import pyarrow.parquet as pq

        from tokenc.files import decode_files

        want_parts = min(8, n_tasks or spark.sparkContext.defaultParallelism)
        enc = encode_files(spark, eight_dir, SPECS, n_tasks=n_tasks)
        assert enc.rdd.getNumPartitions() == want_parts
        assert sorted(r[0] for r in enc.select("rg_part").distinct()
                      .collect()) == list(range(8))
        out = str(tmp_path / "enc")
        enc.write.mode("overwrite").parquet(out)
        dec = decode_files(spark, out, SPECS, TOKENS_ARROW_SCHEMA,
                           n_tasks=n_tasks)
        assert dec.rdd.getNumPartitions() == min(
            len(list_parquet_files(out)), want_parts)
        got = dec.toArrow().sort_by("doc_id")
        src = pq.read_table(eight_dir).select(
            TOKENS_ARROW_SCHEMA.names).sort_by("doc_id")
        assert got.cast(src.schema).equals(src)

    def test_plans_have_no_exchange(self, spark, eight_dir, tmp_path):
        from tokenc.files import decode_files, decode_invariants_files

        enc = encode_files(spark, eight_dir, SPECS)
        out = str(tmp_path / "enc")
        enc.write.mode("overwrite").parquet(out)
        for df in (enc,
                   decode_files(spark, out, SPECS, TOKENS_ARROW_SCHEMA),
                   decode_invariants_files(spark, out, SPECS)):
            assert "Exchange" not in _plan(df)


class TestRemoteScheme:
    """Non-local source scheme end-to-end (reference source matrix,
    source/source.go:9-26 + README local/HDFS/S3/GCS): a real S3 protocol
    server (moto), a real pyarrow S3FileSystem resolved once on the driver
    and PICKLED into the task closures — Spark workers list/read/encode/
    decode against s3 paths without any local fallback."""

    def test_s3_encode_decode_roundtrip(self, spark):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        pytest.importorskip("moto")
        import boto3
        from moto.server import ThreadedMotoServer
        from pyarrow import fs as pafs
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import decode_df
        from tokenc.files import decode_files, encode_files, list_parquet_files
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
            rng = np.random.default_rng(5)
            tables = []
            for fi in range(2):
                t = pa.table({
                    "k": pa.array(np.arange(fi * 3000, fi * 3000 + 3000,
                                            dtype=np.int64)),
                    "s": pa.array([f"row-{fi}-{i:05d}" for i in range(3000)]),
                    "v": pa.array(rng.normal(size=3000)),
                })
                buf = io.BytesIO()
                pq.write_table(t, buf)
                cli.put_object(Bucket="bkt", Key=f"data/part-{fi}.parquet",
                               Body=buf.getvalue())
                tables.append(t)
            src = pa.concat_tables(tables)
            s3 = pafs.S3FileSystem(endpoint_override=endpoint,
                                   access_key="test", secret_key="test",
                                   region="us-east-1")
            assert list_parquet_files("bkt/data", filesystem=s3) == [
                "bkt/data/part-0.parquet", "bkt/data/part-1.parquet"]
            schema = src.schema
            specs = specs_from_arrow_schema(schema)
            enc = encode_files(spark, "bkt/data", specs, filesystem=s3,
                               target_raw_bytes=64 << 10)
            dec = decode_df(enc, specs, schema)
            got = dec.toPandas().sort_values("k").reset_index(drop=True)
            want = src.to_pandas().sort_values("k").reset_index(drop=True)
            assert got.equals(want)
            # decode side: blob parquet also read FROM s3 by the tasks
            enc_tbl = enc.select(
                *[f"{s.name}_blob" for s in specs]).toArrow()
            buf = io.BytesIO()
            pq.write_table(enc_tbl, buf)
            cli.put_object(Bucket="bkt", Key="enc/part-0.parquet",
                           Body=buf.getvalue())
            dec2 = decode_files(spark, "bkt/enc", specs, schema,
                                filesystem=s3)
            got2 = dec2.toPandas().sort_values("k").reset_index(drop=True)
            assert got2.equals(want)
        finally:
            server.stop()


class TestGcsRemoteScheme:
    """gs:// end-to-end against a LIVE GCS JSON-API protocol server
    (tests/gcs_emulator.py — stdlib HTTP implementation of the public
    protocol, run as a subprocess like fake-gcs-server): pyarrow's REAL
    GcsFileSystem (google-cloud-cpp REST client) does every list, ranged
    read, and resumable upload over the wire; nothing in tokenc or
    pyarrow is mocked. Reference source matrix source/source.go:9-26 +
    README local/HDFS/S3/GCS."""

    def test_gcs_encode_decode_roundtrip(self, spark):
        import datetime
        import io

        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        from gcs_emulator import spawn_emulator
        from tokenc.engine import decode_df
        from tokenc.files import decode_files, encode_files, list_parquet_files
        from tokenc.schema import specs_from_arrow_schema

        proc, endpoint = spawn_emulator(["gbkt"])
        try:
            gcs = pafs.GcsFileSystem(
                anonymous=True, endpoint_override=endpoint, scheme="http",
                retry_time_limit=datetime.timedelta(seconds=5))
            rng = np.random.default_rng(5)
            tables = []
            for fi in range(2):
                t = pa.table({
                    "k": pa.array(np.arange(fi * 3000, fi * 3000 + 3000,
                                            dtype=np.int64)),
                    "s": pa.array([f"row-{fi}-{i:05d}" for i in range(3000)]),
                    "v": pa.array(rng.normal(size=3000)),
                })
                # seed through the real protocol: resumable upload
                with gcs.open_output_stream(
                        f"gbkt/data/part-{fi}.parquet") as f:
                    pq.write_table(t, f)
                tables.append(t)
            src = pa.concat_tables(tables)
            assert list_parquet_files("gbkt/data", filesystem=gcs) == [
                "gbkt/data/part-0.parquet", "gbkt/data/part-1.parquet"]
            schema = src.schema
            specs = specs_from_arrow_schema(schema)
            enc = encode_files(spark, "gbkt/data", specs, filesystem=gcs,
                               target_raw_bytes=64 << 10)
            dec = decode_df(enc, specs, schema)
            got = dec.toPandas().sort_values("k").reset_index(drop=True)
            want = src.to_pandas().sort_values("k").reset_index(drop=True)
            assert got.equals(want)
            # decode side: blob parquet uploaded to AND read back from gs
            enc_tbl = enc.select(
                *[f"{s.name}_blob" for s in specs]).toArrow()
            buf = io.BytesIO()
            pq.write_table(enc_tbl, buf)
            with gcs.open_output_stream("gbkt/enc/part-0.parquet") as f:
                f.write(buf.getvalue())
            dec2 = decode_files(spark, "gbkt/enc", specs, schema,
                                filesystem=gcs)
            got2 = dec2.toPandas().sort_values("k").reset_index(drop=True)
            assert got2.equals(want)
        finally:
            proc.terminate()
            proc.wait(timeout=10)


class TestRemoteUriSchemes:
    """gs:// and hdfs:// URI routing through `pyarrow.fs.FileSystem.from_uri`
    (tokenc.files.resolve_fs; reference source matrix source/source.go:9-26,
    README local/HDFS/S3/GCS). No GCS or HDFS service exists in this
    sandbox, so `from_uri` is substituted with a resolver that applies the
    same shape of path normalization pyarrow's real resolvers do (gs:// →
    'bucket/object' fs-relative paths, hdfs://authority/path → the
    authority names the cluster and only the path addresses files) and
    returns a picklable SubTreeFileSystem rooted at a local directory
    standing in for the remote store. Everything DOWNSTREAM of from_uri is
    the real code path: URI → (fs, fs-relative path) split, recursive
    listing, the filesystem pickled once into Spark task closures, ranged
    reads, file-granular encode and decode."""

    @pytest.fixture()
    def fake_remote(self, tmp_path, monkeypatch):
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        root = str(tmp_path / "remotestore")
        os.makedirs(root)
        real_fs_cls = pafs.FileSystem

        class Resolver:
            resolved: list = []

            @staticmethod
            def from_uri(uri):
                if uri.startswith("gs://"):
                    rel = uri[len("gs://"):]  # GcsFileSystem: bucket/object
                elif uri.startswith("hdfs://"):
                    # HadoopFileSystem: hdfs://host:port/p — the authority
                    # configures the client; files address by path (mapped
                    # fs-relative into the stand-in store)
                    rest = uri[len("hdfs://"):]
                    _authority, _, p = rest.partition("/")
                    rel = p
                else:
                    return real_fs_cls.from_uri(uri)
                Resolver.resolved.append(uri)
                return (pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()),
                        rel)

        monkeypatch.setattr(pafs, "FileSystem", Resolver)

        rng = np.random.default_rng(11)
        tables = []
        for fi in range(2):
            t = pa.table({
                "k": pa.array(np.arange(fi * 2000, fi * 2000 + 2000,
                                        dtype=np.int64)),
                "s": pa.array([f"row-{fi}-{i:05d}" for i in range(2000)]),
            })
            for sub in ("gbkt/src", "warehouse/src"):
                os.makedirs(os.path.join(root, sub), exist_ok=True)
                pq.write_table(t, os.path.join(root, sub,
                                               f"part-{fi}.parquet"))
            tables.append(t)
        return root, Resolver, pa.concat_tables(tables)

    @pytest.mark.parametrize("uri_dir,expect_rel", [
        ("gs://gbkt/src", "gbkt/src"),
        ("hdfs://namenode:9000/warehouse/src", "warehouse/src"),
    ])
    def test_uri_list_encode_decode(self, spark, fake_remote, uri_dir,
                                    expect_rel):
        import io

        import pyarrow.parquet as pq

        from tokenc.engine import decode_df
        from tokenc.files import (decode_files, encode_files,
                                  list_parquet_files, resolve_fs)
        from tokenc.schema import specs_from_arrow_schema

        root, resolver, src = fake_remote
        # path normalization: URI → fs-relative paths
        fs, rel = resolve_fs(uri_dir)
        assert rel == expect_rel and uri_dir in resolver.resolved
        assert list_parquet_files(uri_dir) == [
            f"{expect_rel}/part-0.parquet", f"{expect_rel}/part-1.parquet"]

        specs = specs_from_arrow_schema(src.schema)
        enc = encode_files(spark, uri_dir, specs, target_raw_bytes=32 << 10)
        got = (decode_df(enc, specs, src.schema).toPandas()
               .sort_values("k").reset_index(drop=True))
        want = src.to_pandas().sort_values("k").reset_index(drop=True)
        assert got.equals(want)

        # decode side: blob parquet read back THROUGH the URI scheme too
        enc_tbl = enc.select(*[f"{s.name}_blob" for s in specs]).toArrow()
        enc_dir = os.path.join(root, expect_rel.split("/")[0], "enc")
        os.makedirs(enc_dir, exist_ok=True)
        pq.write_table(enc_tbl, os.path.join(enc_dir, "part-0.parquet"))
        enc_uri = (f"gs://gbkt/enc" if uri_dir.startswith("gs://")
                   else "hdfs://namenode:9000/warehouse/enc")
        # hdfs maps under its first path segment in the stand-in store
        if not uri_dir.startswith("gs://"):
            os.makedirs(os.path.join(root, "warehouse"), exist_ok=True)
            if not os.path.exists(os.path.join(root, "warehouse", "enc")):
                os.rename(enc_dir, os.path.join(root, "warehouse", "enc"))
        got2 = (decode_files(spark, enc_uri, specs, src.schema).toPandas()
                .sort_values("k").reset_index(drop=True))
        assert got2.equals(want)
