#!/usr/bin/env python
"""Headline benchmark: encode + decode the synthetic tokens table.

Prints ONE JSON line:
    {"metric": "...", "value": <encode+decode sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "throughput": {...}, "sizes": {...}}

Timing design for this sandbox: the VM's block device writes at an erratic
2–8 MB/s, so parquet writes go to /dev/shm and the headline stages are
compute-forced (aggregate over every encoded/decoded row) with the container
write reported separately — the engine is the thing under test, not the
virtio throttle.

Env knobs:
    SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1) — sets scale
    SPARK_GRAFT_CPUS     local[N] (default 32)
    TOKENC_DOCS          override synthetic doc count
    TOKENC_SRC_DIR       reuse a pre-generated source dir (scaling runs)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 34))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 34))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = {"sf0.001": 0.001, "sf0.01": 0.01, "sf0.1": 0.1}.get(os.path.basename(SF_DIR.rstrip("/")), 0.1)
# doc counts scaled so sf0.1 ≈ 500k docs × ~512 tokens ≈ 1.4 GB raw —
# large enough that per-job fixed costs don't mask engine throughput
N_DOCS = int(os.environ.get("TOKENC_DOCS", str(int(5_000_000 * SF))))
MEAN_TOKENS = 512


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tokenc.datagen import TOKENS_ARROW_SCHEMA, synth_tokens_df
    from tokenc.engine import decode_df, encode_df
    from tokenc.files import encode_files
    from tokenc.schema import specs_from_arrow_schema

    out_root = os.environ.get("TOKENC_BENCH_DIR", "/dev/shm/tokenc_bench")
    shutil.rmtree(out_root, ignore_errors=True)
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.driver.memory", "16g")
             # the default G1 collector anti-scales badly at 32 threads in
             # this sandbox (measured 0.9s@8 -> 20s@32 on a pure-JVM HOF
             # aggregate); ParallelGC restores linear scaling
             .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
             .config("spark.sql.parquet.compression.codec", "zstd")
             # blob files are ~1-4 MB; keep scan splits small so decode
             # parallelism comes from the scan itself, not a repartition
             .config("spark.sql.files.maxPartitionBytes", str(8 << 20))
             .config("spark.local.dir", "/dev/shm/spark_local")
             .config("spark.ui.enabled", "false")
             .appName("tokenc-bench").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    specs = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)
    queries: dict[str, float] = {}

    # --- materialize source once (raw parquet = the reference baseline);
    # TOKENC_SRC_DIR lets scaling runs share one deterministic source ------
    t0 = time.time()
    src_dir = os.environ.get("TOKENC_SRC_DIR", f"{out_root}/src")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        synth_tokens_df(spark, N_DOCS, seed=42, mean_tokens=MEAN_TOKENS,
                        partitions=256).write.mode("overwrite") \
            .option("compression", "snappy").parquet(src_dir)
    queries["gen_source"] = round(time.time() - t0, 3)
    src = spark.read.parquet(src_dir)

    raw_row = src.select(
        F.sum(F.octet_length(F.col("doc_id"))).alias("id_b"),
        F.sum(F.col("n_tok") * 4).alias("tok_b"),
        F.sum(F.octet_length(F.col("source"))).alias("src_b"),
        F.count("*").alias("rows"),
    ).collect()[0]
    raw_bytes = int(raw_row["id_b"] + raw_row["tok_b"] + raw_row["src_b"] + raw_row["rows"] * 4)

    # --- encode (compute-forced; min of 4 runs — 32 fresh python workers
    # need a few tasks each before allocation paths are warm). Headline path
    # is file-granular: tasks read parquet directly with pyarrow, so the hot
    # path never crosses the JVM row pivot (which saturates ~250 MB/s on
    # this box regardless of cores). Shuffle-free; one wave of tasks
    # (one per core), each encoding a contiguous slice of the file list.
    # ENCODE_REPEAT mirrors the decode protocol: pass the file list N times
    # in ONE job so per-job fixed costs (stage setup, worker spin-up) don't
    # dominate few-second walls; reported numbers are per-pass -------------
    from tokenc.files import list_parquet_files as _lpf

    enc_repeat = int(os.environ.get("TOKENC_ENCODE_REPEAT", "4"))
    src_files = _lpf(src_dir)
    enc = encode_files(spark, src_files, specs, target_raw_bytes=8 << 20)

    def run_encode():
        e = (enc if enc_repeat == 1 else
             encode_files(spark, src_files * enc_repeat, specs,
                          target_raw_bytes=8 << 20))
        e.select(*[F.sum(f"{s.name}_meta.enc_bytes")
                   for s in specs]).collect()

    enc_reps = 2 if enc_repeat > 1 else 4
    t_enc_job = min(_timed(run_encode) for _ in range(enc_reps))
    t_enc = t_enc_job / enc_repeat
    queries["encode"] = round(t_enc, 3)
    queries["encode_job"] = round(t_enc_job, 3)
    queries["encode_repeat"] = enc_repeat

    # secondary: the generic DataFrame-API path (pays the JVM->Arrow input
    # pivot; reported so the boundary cost stays visible). Skippable for
    # scaling runs (TOKENC_BENCH_SECONDARY=0)
    secondary = os.environ.get("TOKENC_BENCH_SECONDARY", "1") != "0"
    if secondary:
        enc_dfapi = encode_df(src, specs, target_raw_bytes=8 << 20)
        queries["encode_dfapi"] = round(min(_timed(lambda: enc_dfapi.select(
            *[F.sum(f"{s.name}_meta.enc_bytes") for s in specs]).collect())
            for _ in range(2)), 3)

    # --- encode + container write (shm) ------------------------------------
    enc_dir = f"{out_root}/enc"
    t0 = time.time()
    enc.write.mode("overwrite").parquet(enc_dir)
    queries["encode_write"] = round(time.time() - t0, 3)

    enc_read = spark.read.parquet(enc_dir)
    sizes = enc_read.select(
        *[F.sum(f"{s.name}_meta.enc_bytes").alias(s.name) for s in specs]).collect()[0]
    enc_payload_bytes = int(sum(sizes[s.name] for s in specs))
    enc_disk_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(enc_dir) for f in fs if f.endswith(".parquet"))
    ref_disk_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(src_dir) for f in fs if f.endswith(".parquet"))

    # --- decode (compute-forced; min of 4). Headline path is file-granular
    # (decode_invariants_files): tasks read the blob parquet directly with
    # pyarrow and reduce to invariants inside the task — neither the blob
    # bytes nor the decoded arrays ever cross a process boundary (measured:
    # the JVM->Python Arrow transfer of blobs costs ~3x the decode kernels
    # themselves). DECODE_REPEAT passes the file list N times in ONE job so
    # per-job fixed costs (session/stage setup, worker spin-up) don't
    # dominate when per-pass wall is a few seconds; reported numbers are
    # per-pass --------------------------------------------------------------
    from tokenc.files import decode_invariants_files, list_parquet_files

    repeat = int(os.environ.get("TOKENC_DECODE_REPEAT", "4"))
    enc_files = list_parquet_files(enc_dir)

    def fresh_inv_agg(files):
        # rebuilt per repetition: reusing one DataFrame object would let
        # Spark reuse the map stage's shuffle files across collects and the
        # timing would measure a cached no-op
        return (decode_invariants_files(spark, files, specs)
                .groupBy("column")
                .agg(F.sum("n_rows").alias("n_rows"),
                     F.sum("n_values").alias("n_values"),
                     F.sum("num_sum").alias("num_sum"),
                     F.sum("byte_sum").alias("byte_sum")))

    # amortized jobs (repeat>1) are long and low-variance: 2 reps suffice
    dec_reps = 2 if repeat > 1 else 4
    t_dec_job = min(_timed(lambda: fresh_inv_agg(enc_files * repeat).collect())
                    for _ in range(dec_reps))
    t_dec = t_dec_job / repeat
    queries["decode"] = round(t_dec, 3)
    queries["decode_job"] = round(t_dec_job, 3)
    queries["decode_repeat"] = repeat
    inv_agg = fresh_inv_agg(enc_files)

    # secondary: DataFrame-API decode to real rows (pays the output pivot)
    blobs = enc_read.select(*[f"{s.name}_blob" for s in specs])
    dec = decode_df(blobs, specs, TOKENS_ARROW_SCHEMA)
    if secondary:
        queries["decode_dfapi"] = round(min(_timed(lambda: dec.select(
            F.count("*"), F.sum("n_tok")).collect()) for _ in range(2)), 3)

    # --- verify: decoded invariants == source invariants (untimed gate) ----
    t0 = time.time()
    got = {r["column"]: r for r in inv_agg.collect()}
    a = src.select(
        F.count("*").alias("n"), F.sum("n_tok").alias("s"),
        F.sum(F.expr("aggregate(tokens, 0L, (a,x) -> a + x)")).alias("ts"),
        F.sum(F.octet_length("doc_id")).alias("idb"),
        F.sum(F.octet_length("source")).alias("srcb")).collect()[0]
    n = int(a["n"])
    checks = [
        (got["tokens"]["n_rows"], n), (got["tokens"]["n_values"], int(a["s"])),
        (int(got["tokens"]["num_sum"]), int(a["ts"])),
        (got["n_tok"]["n_rows"], n), (int(got["n_tok"]["num_sum"]), int(a["s"])),
        (got["doc_id"]["byte_sum"], int(a["idb"])),
        (got["source"]["byte_sum"], int(a["srcb"])),
    ]
    for g, w in checks:
        assert g == w, f"decode invariant mismatch: {checks}"
    # row-level spot check on the DataFrame path (bit-exact gate is pytest)
    dec_rows = dec.limit(1000).collect()
    assert len(dec_rows) == 1000 and all(r["n_tok"] == len(r["tokens"]) for r in dec_rows)
    queries["verify"] = round(time.time() - t0, 3)

    total = queries["encode"] + queries["decode"]
    result = {
        "metric": "tokens-table encode+decode wall (synthetic, auto-codec)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": SF,
        "config": {"cpus": CPUS, "n_docs": N_DOCS, "mean_tokens": MEAN_TOKENS},
        "throughput": {
            "raw_bytes": raw_bytes,
            "encode_MBps": round(raw_bytes / t_enc / 1e6, 1),
            "decode_MBps": round(raw_bytes / t_dec / 1e6, 1),
        },
        "sizes": {
            "raw_bytes": raw_bytes,
            "encoded_payload_bytes": enc_payload_bytes,
            "encoded_disk_bytes": enc_disk_bytes,
            "reference_parquet_snappy_bytes": ref_disk_bytes,
            "ratio_vs_raw": round(raw_bytes / max(enc_disk_bytes, 1), 3),
            "vs_reference": round(enc_disk_bytes / max(ref_disk_bytes, 1), 3),
        },
    }
    print(json.dumps(result))
    sys.stdout.flush()
    # Orderly teardown: the python worker daemon prints a benign
    # BrokenPipeError if the JVM drops its socket mid-shutdown; stopping the
    # context and giving daemons a beat to exit keeps bench stderr clean so
    # real failures aren't masked.
    try:
        spark.stop()
        time.sleep(1.0)
    except Exception:
        pass


if __name__ == "__main__":
    main()
