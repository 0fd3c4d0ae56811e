"""The set-up and the timed, closed-loop measurement of one workload (one
client: each operation starts after the previous one ends).

Phases of a run:
  1. input: generate the seeded source and write it as zstd Parquet;
  2. set-up (setup_s): start the Spark session and run one warm-up pass
     of every timed operation: encode the source, decode it, cache the
     encoded table and build its doc_id index, one scan, one get. The
     warm-up's encoded table is the one the lookups query;
  3. measure: a fixed number of scan+get pairs on the cached table, then
     a fixed number of encode -> decode rounds. The counts follow from
     --seconds alone (about that many seconds of work here), so every run
     of a workload takes the same samples and reports the same tail
     percentile. Each metric is the median over its repetitions.
Every operation in 2 and 3 is checked.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import gen, ops, stats
from .run import N_CPUS, N_FILES, RAW_BYTES

LOOKUP_PAIRS_PER_S = 0.48  # scan+get pairs per requested second
BULK_REPS_PER_S = 0.12    # encode+decode rounds per requested second
MIN_LOOKUP_PAIRS = 12     # a tail needs more than stats.TAIL_BEYOND samples
MIN_BULK_REPS = 3


def workload_specs():
    from tokenc.schema import specs_from_arrow_schema

    return specs_from_arrow_schema(gen.SCHEMA, bloom_columns=["doc_id"])


def run(name: str, mean_tokens: int, seed: int, seconds: float,
        work_dir: str, raw_bytes: int = RAW_BYTES) -> dict:
    t_in = time.perf_counter()
    src = ops.make_source(seed, raw_bytes, mean_tokens,
                          os.path.join(work_dir, "src"), N_FILES)
    input_s = time.perf_counter() - t_in
    specs = workload_specs()
    gate = ops.Gate()
    rng = np.random.default_rng([seed, 1])
    sample = ops.sample_rows(src, seed)

    t0 = time.perf_counter()
    spark = ops.start_session(N_CPUS, work_dir)
    session_s = time.perf_counter() - t0
    table_dir = os.path.join(work_dir, "table")
    ops.encode_op(spark, src, specs, table_dir, gate)
    _, warm_dec = ops.decode_rows(spark, src, specs, table_dir, sample)
    table, index = ops.lookup_table(spark, table_dir)
    ops.scan_op(spark, table, index, specs, src, ops.scan_query(rng, src),
                gate)
    ops.get_op(spark, table, index, specs, src, ops.get_query(rng, src),
               gate)
    setup_s = time.perf_counter() - t0
    src.content_hash = ops.content_hash_oracle(spark, src)
    ops.check_decode(src, sample, warm_dec, gate)

    n_pairs = max(MIN_LOOKUP_PAIRS, round(LOOKUP_PAIRS_PER_S * seconds))
    n_bulk = max(MIN_BULK_REPS, round(BULK_REPS_PER_S * seconds))
    enc_t, dec_t, scan_t, get_t = [], [], [], []
    steal0 = ops.cpu_steal()
    t_start = time.perf_counter()
    for _ in range(n_pairs):
        scan_t.append(ops.scan_op(spark, table, index, specs, src,
                                  ops.scan_query(rng, src), gate))
        get_t.append(ops.get_op(spark, table, index, specs, src,
                                ops.get_query(rng, src), gate))
    for i in range(n_bulk):
        d = os.path.join(work_dir, f"enc{i}")
        enc_t.append(ops.encode_op(spark, src, specs, d, gate))
        dec_t.append(ops.decode_op(spark, src, specs, d, sample, gate))
        shutil.rmtree(d, ignore_errors=True)
    steal1 = ops.cpu_steal()
    measured_s = time.perf_counter() - t_start
    rss = ops.worker_peak_rss_mb()
    enc_bytes = ops.disk_bytes(table_dir)
    ops.stop_session(spark)

    ms = [1e3 * x for x in scan_t]
    mg = [1e3 * x for x in get_t]
    scan_tail, scan_pct, _ = stats.tail(ms)
    get_tail, get_pct, _ = stats.tail(mg)
    raw_mb = src.raw_bytes / 1e6
    metrics = {
        "setup_s": (setup_s, "s"),
        "encode_MBps": (raw_mb / stats.median(enc_t), "MB/s"),
        "decode_MBps": (raw_mb / stats.median(dec_t), "MB/s"),
        "size_ratio": (enc_bytes / src.raw_bytes, "ratio"),
        "size_vs_parquet_zstd": (enc_bytes / src.parquet_zstd_bytes,
                                 "ratio"),
        "scan_p50_ms": (stats.median(ms), "ms"),
        "scan_tail_ms": (scan_tail, "ms"),
        "get_p50_ms": (stats.median(mg), "ms"),
        "get_tail_ms": (get_tail, "ms"),
        "worker_peak_rss_mb": (rss, "MB"),
    }
    detail = {
        "workload": name, "seed": seed, "source_digest": src.digest,
        "rows": src.n_rows, "raw_bytes": src.raw_bytes,
        "encoded_disk_bytes": enc_bytes,
        "parquet_zstd_bytes": src.parquet_zstd_bytes,
        "input_s": round(input_s, 3), "session_s": round(session_s, 3),
        "measured_s": round(measured_s, 3),
        # share of CPU time the hypervisor gave to other machines while
        # this run measured: a slow run with a high share was contended
        "steal_frac": round((steal1[0] - steal0[0])
                            / max(1, steal1[1] - steal0[1]), 4),
        "encode_s": _spread(enc_t), "decode_s": _spread(dec_t),
        "scan_ms": _spread(ms), "get_ms": _spread(mg),
        "scan_tail": {"percentile": round(scan_pct, 1), "samples": len(ms)},
        "get_tail": {"percentile": round(get_pct, 1), "samples": len(mg)},
        "failed_frac": gate.failed / gate.attempted,
        "errors": gate.errors[:10],
    }
    return {
        "correct": gate.failed == 0, "attempted": gate.attempted,
        "failed": gate.failed, "detail": detail,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _spread(xs) -> dict:
    q1, q3 = stats.quartiles(xs)
    return {"median": round(stats.median(xs), 4), "q1": round(q1, 4),
            "q3": round(q3, 4), "n": len(xs),
            "samples": [round(x, 4) for x in xs]}
