"""Deterministic tokens-table synthesis (BASELINE.json input_hint shape:
doc_id:string, tokens:array<int32>, n_tok:int32, source:string).

Two sources, both seed-free deterministic:

1. `tokens_from_documents` — tokenize the driver-provided documents table
   with a word→id map that is expressible in BOTH Spark SQL and DuckDB SQL
   (so the driver's oracle can reproduce it exactly):
       token(w) = (length(w)*31 + ascii(first)*7 + ascii(last)) % 50000

2. `synth_tokens_df` — a scalable generator for benchmarks: per-doc numpy
   RNG seeded by doc index, mixing codec-relevant regimes (Zipfian ids,
   repeated runs, monotone ramps) and a skewed length distribution with
   rare huge documents to exercise salting/row-group sizing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from tokenc._mem import worker_batches

TOKEN_EXPR_SPARK = (
    "transform(filter(split(text, ' '), w -> length(w) > 0), "
    "w -> cast((length(w)*31 + ascii(substr(w, 1, 1))*7 + ascii(substr(w, length(w), 1))) % 50000 as int))"
)

# DuckDB spelling of the same tokenization (list_transform/list_filter)
TOKEN_EXPR_DUCKDB = (
    "list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0), "
    "w -> cast((length(w)*31 + ascii(w[1])*7 + ascii(w[-1])) % 50000 as int))"
)


def tokens_from_documents(spark, sf_dir: str):
    """documents.parquet → (doc_id, tokens, n_tok, source)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr(TOKEN_EXPR_SPARK).alias("tokens"),
            F.col("source").cast("string").alias("source"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select("doc_id", "tokens", "n_tok", "source")
    )


TOKENS_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("tokens", pa.list_(pa.int32())),
    pa.field("n_tok", pa.int32()),
    pa.field("source", pa.string()),
])

VOCAB = 50_000


BLOCK_DOCS = 4096  # RNG block granularity: content depends only on (seed, block)


def synth_batch(doc_lo: int, doc_hi: int, seed: int = 42,
                mean_tokens: int = 512) -> pa.RecordBatch:
    """Deterministic batch of docs [doc_lo, doc_hi): partition-invariant —
    content is generated in fixed absolute blocks of BLOCK_DOCS and sliced,
    so any split of the doc range yields identical rows."""
    parts = []
    lo = doc_lo
    while lo < doc_hi:
        blk = lo // BLOCK_DOCS
        blk_lo, blk_hi = blk * BLOCK_DOCS, (blk + 1) * BLOCK_DOCS
        full = _synth_block(blk, seed, mean_tokens)
        s, e = lo - blk_lo, min(doc_hi, blk_hi) - blk_lo
        parts.append(full.slice(s, e - s))
        lo = min(doc_hi, blk_hi)
    if len(parts) == 1:
        return parts[0]
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def _synth_block(blk: int, seed: int, mean_tokens: int) -> pa.RecordBatch:
    doc_lo, doc_hi = blk * BLOCK_DOCS, (blk + 1) * BLOCK_DOCS
    n = doc_hi - doc_lo
    rng = np.random.default_rng(np.random.SeedSequence([seed, blk]))
    # lengths: lognormal, clipped; ~1% giant docs (skew fuel)
    lens = np.clip(rng.lognormal(np.log(mean_tokens), 0.6, n), 8, mean_tokens * 40).astype(np.int64)
    giants = rng.random(n) < 0.002
    lens[giants] = mean_tokens * 64
    total = int(lens.sum())
    # regime per doc: 0=zipf (dict/plain), 1=runs (rle), 2=monotone ramp (delta)
    regime = rng.integers(0, 3, n)
    toks = np.empty(total, dtype=np.int32)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    # vectorized per regime over concatenated spans
    for r, idx in [(r, np.flatnonzero(regime == r)) for r in range(3)]:
        if idx.size == 0:
            continue
        span = int(lens[idx].sum())
        if r == 0:
            vals = (rng.zipf(1.35, span).astype(np.int64) - 1) % VOCAB
        elif r == 1:
            nruns = max(1, span // 24)
            rv = rng.integers(0, 2048, nruns)
            rl = rng.integers(1, 48, nruns)
            vals = np.repeat(rv, rl)
            vals = np.resize(vals, span)
        else:
            vals = (np.arange(span) % 4096) + rng.integers(0, VOCAB - 4096)
        from .codecs.plain import _ranges_to_indices

        dst = _ranges_to_indices(offs[:-1][idx], lens[idx])
        toks[dst] = vals[:span].astype(np.int32)
    doc_ids = pa.array([f"doc_{i:012d}" for i in range(doc_lo, doc_hi)], pa.string())
    sources = pa.array([f"src{i % 17}" for i in (rng.integers(0, 40, n) ** 2 % 17)], pa.string())
    if int(offs[-1]) > (1 << 31) - 1:
        raise ValueError(
            f"block token count {int(offs[-1])} overflows int32 list "
            f"offsets — lower mean_tokens or the docs-per-block size")
    tokens_arr = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32), pa.int32()),
                                          pa.array(toks, pa.int32()))
    return pa.RecordBatch.from_arrays(
        [doc_ids, tokens_arr, pa.array(lens.astype(np.int32), pa.int32()), sources],
        schema=TOKENS_ARROW_SCHEMA)


def synth_tokens_df(spark, n_docs: int, *, seed: int = 42, mean_tokens: int = 512,
                    partitions: int | None = None, start: int = 0):
    """Distributed deterministic tokens table of docs [start, n_docs)."""
    from tokenc.engine import from_arrow_schema

    parts = partitions or spark.sparkContext.defaultParallelism
    rng_df = spark.range(start, n_docs, 1, parts)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in worker_batches(batches):
            ids = b.column(0).to_numpy()
            if ids.size == 0:
                continue
            # ids are contiguous within a range partition; split on gaps anyway
            gaps = np.flatnonzero(np.diff(ids) != 1)
            starts = np.concatenate(([0], gaps + 1))
            ends = np.concatenate((gaps + 1, [ids.size]))
            for s, e in zip(starts, ends):
                yield synth_batch(int(ids[s]), int(ids[e - 1]) + 1,
                                  seed=seed, mean_tokens=mean_tokens)

    return rng_df.mapInArrow(gen, from_arrow_schema(TOKENS_ARROW_SCHEMA))
