"""Seeded input generator owned by the benchmark.

The regimes follow the shape of a pre-tokenized LLM corpus: per-document
lengths are lognormal with a 0.2% tail of giant documents, and each
document's tokens come from one of three regimes (Zipfian ids, short runs
of repeated ids, monotone ramps). The code is written out here rather than
imported from the engine's own data generator, so a change to the engine
cannot change what the benchmark measures.

Everything is numpy + pyarrow in one process: no Spark, so generation time
stays out of the measured set-up.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("tokens", pa.list_(pa.int32())),
    pa.field("n_tok", pa.int32()),
    pa.field("source", pa.string()),
])

VOCAB = 50_000
BLOCK_DOCS = 4096
GIANT_FRAC = 0.002
GIANT_MULT = 64
# doc ids are "doc_" + 12 zero-padded digits of 2*i: lexicographic order is
# row order, and every odd number is a key that is absent from the table
# but falls inside some row group's [min, max]
ID_WIDTH = 12


def doc_key(i: int) -> str:
    return f"doc_{i:0{ID_WIDTH}d}"


def _ranges_to_indices(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat indices of the ranges [starts[k], starts[k] + lens[k])."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64)
    idx = np.ones(total, np.int64)
    idx[0] = starts[0]
    ends = np.cumsum(lens)[:-1]
    idx[ends] = starts[1:] - (starts[:-1] + lens[:-1]) + 1
    return np.cumsum(idx)


def _doc_ids(lo: int, hi: int) -> pa.Array:
    """["doc_%012d" % (2*i) for i in range(lo, hi)] without a Python loop."""
    n = hi - lo
    nums = np.arange(lo, hi, dtype=np.int64) * 2
    digits = np.empty((n, ID_WIDTH), np.uint8)
    for k in range(ID_WIDTH - 1, -1, -1):
        digits[:, k] = 48 + nums % 10
        nums //= 10
    width = 4 + ID_WIDTH
    data = np.empty((n, width), np.uint8)
    data[:, :4] = np.frombuffer(b"doc_", np.uint8)
    data[:, 4:] = digits
    offs = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offs),
                                       pa.py_buffer(data.tobytes()))


def _block(blk: int, n: int, seed: int, mean_tokens: int) -> pa.RecordBatch:
    rng = np.random.default_rng(np.random.SeedSequence([seed, blk]))
    lens = np.clip(rng.lognormal(np.log(mean_tokens), 0.6, n), 8,
                   mean_tokens * 40).astype(np.int64)
    # regimes (0 Zipf, 1 runs, 2 ramp) and giants are stratified: each
    # regime gets a third of the docs and of the giants, so the byte mix,
    # and with it the encoded size, varies little from seed to seed
    regime = rng.permutation(np.arange(n) % 3)
    per_regime = round(n * GIANT_FRAC / 3)
    for r in range(3):
        docs = np.flatnonzero(regime == r)
        giants = rng.choice(docs, min(per_regime, docs.size), replace=False)
        lens[giants] = mean_tokens * GIANT_MULT
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    toks = np.empty(int(offs[-1]), np.int32)
    for r in range(3):
        idx = np.flatnonzero(regime == r)
        if idx.size == 0:
            continue
        span = int(lens[idx].sum())
        if r == 0:
            # Zipf(1.35) by inverse transform of its continuous (Pareto)
            # envelope: floor(U^(-1/0.35)) has P(K >= k) = k^-0.35, the
            # same tail as numpy's zipf at a tenth of the cost
            k = np.minimum(rng.random(span) ** (-1 / 0.35), 2.0 ** 53)
            vals = (k.astype(np.int64) - 1) % VOCAB
        elif r == 1:
            nruns = max(1, span // 24)
            vals = np.repeat(rng.integers(0, 2048, nruns),
                             rng.integers(1, 48, nruns))
            vals = np.resize(vals, span)
        else:
            vals = (np.arange(span) % 4096) + rng.integers(0, VOCAB - 4096)
        toks[_ranges_to_indices(offs[:-1][idx], lens[idx])] = vals[:span]
    src_ids = rng.integers(0, 40, n) ** 2 % 17
    names = np.array([f"src{k}" for k in range(17)], dtype=object)
    lo = blk * BLOCK_DOCS
    return pa.RecordBatch.from_arrays(
        [_doc_ids(lo, lo + n),
         pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)),
                                  pa.array(toks)),
         pa.array(lens.astype(np.int32)),
         pa.array(names[src_ids], pa.string())],
        schema=SCHEMA)


def raw_bytes_per_doc(mean_tokens: int) -> float:
    """Expected raw bytes of one row: 4 B/token, 4 B n_tok, 16 B doc_id,
    ~4.6 B source. The lognormal mean is exp(sigma^2/2) = 1.197 times the
    median before clipping; giants add GIANT_FRAC * GIANT_MULT."""
    toks = mean_tokens * (np.exp(0.18) + GIANT_FRAC * GIANT_MULT)
    return 4 * toks + 4 + 4 + ID_WIDTH + 4.6


def make_table(seed: int, raw_budget: int, mean_tokens: int) -> pa.Table:
    n_docs = int(raw_budget / raw_bytes_per_doc(mean_tokens))
    batches = []
    for blk, lo in enumerate(range(0, n_docs, BLOCK_DOCS)):
        batches.append(_block(blk, min(BLOCK_DOCS, n_docs - lo), seed,
                              mean_tokens))
    return pa.Table.from_batches(batches, SCHEMA)


def raw_bytes(t: pa.Table) -> int:
    """User bytes of the table: string payload bytes + 4 B per int32."""
    n_vals = sum(len(c.values) for c in t["tokens"].chunks)
    return (_str_bytes(t["doc_id"]) + _str_bytes(t["source"])
            + 4 * n_vals + 4 * t.num_rows)


def _str_bytes(col) -> int:
    return int(pc.sum(pc.binary_length(col)).as_py() or 0)


def digest(t: pa.Table) -> str:
    """Content digest of the source, printed so two runs can prove they
    measured the same input."""
    h = hashlib.sha256()
    for b in t.to_batches():
        for arr in b.columns:
            for buf in arr.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def write_source(t: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write `t` as `n_files` row-contiguous zstd Parquet files (file order
    = row order), four at a time. Returns the file paths."""
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(out_dir, exist_ok=True)
    per = -(-t.num_rows // n_files)
    parts = [(os.path.join(out_dir, f"part-{k:05d}.parquet"),
              t.slice(k * per, per)) for k in range(n_files)
             if k * per < t.num_rows]
    with ThreadPoolExecutor(4) as ex:
        for fut in [ex.submit(pq.write_table, part, p, compression="zstd")
                    for p, part in parts]:
            fut.result()
    return [p for p, _ in parts]
