"""Per-chunk codec auto-selection.

The reference has NO automatic selection — encoding is a static per-column
user tag (/root/reference/common/common.go:221-275, default PLAIN at
layout/page.go:167-171; README.md:99-103 tells the *user* to avoid
dictionaries at high cardinality). This module is the upgrade the north rule
asks for: sample the chunk's value distribution (cardinality, run structure,
delta bit width, string prefix sharing) and pick the cheapest encoding, with
the reference's encodings as the candidate set plus FSST.

Estimates are byte-size models evaluated on a bounded sample — O(sample)
regardless of chunk size, all numpy.
"""

from __future__ import annotations

import numpy as np

from . import codecs

SAMPLE = 8192
MEASURE_SAMPLE = 131072  # container-aware refinement sample (see below)

# Worker-process-level memo for the measured refinement. Spark reuses
# python workers across tasks (spark.python.worker.reuse), so keying the
# memo at module scope amortizes the measured pass to ~once per column per
# WORKER instead of once per task — the saving grows with the tasks each
# worker runs (a per-task memo anti-scales: more cores → more tasks → more
# refinements). Entries are a
# few bytes each, keyed by (column, shortlist, model-pick, container) — the
# distribution signature — so a shifted stream re-measures.
WORKER_MEMO: dict = {}


def _sample_idx(n: int, k: int) -> np.ndarray:
    if n <= k:
        return np.arange(n)
    # deterministic strided sample (seed-free, stable across runs)
    step = n / k
    return (np.arange(k) * step).astype(np.int64)


def _est_delta_bits(vals: np.ndarray) -> float:
    """Mean miniblock bit width of DELTA_BINARY_PACKED on the sample."""
    if vals.size < 2:
        return 8.0
    u = np.ascontiguousarray(vals, np.int64).view(np.uint64)
    d = (u[1:] - u[:-1]).view(np.int64)
    if d.size < 32:  # pad the lone partial miniblock with its own min
        d = np.concatenate([d, np.full(32 - d.size, d.min(), np.int64)])
    nb = d.size // 32
    usable = nb * 32
    blocks = d[:usable].reshape(nb, 32)
    mn = blocks.min(axis=1)
    norm = blocks.view(np.uint64) - mn[:, None].view(np.uint64)
    mx = norm.max(axis=1).astype(np.float64)
    w = np.ceil(np.log2(mx + 1.0))
    return float(w.mean()) + 0.5  # + header overhead per miniblock


def _run_stats(vals: np.ndarray) -> tuple[int, float]:
    """(n_runs, mean_run_len) on the sample (contiguous sample slice)."""
    if vals.size == 0:
        return 0, 1.0
    runs = 1 + int((vals[1:] != vals[:-1]).sum())
    return runs, vals.size / runs


def choose_numeric(vals: np.ndarray, phys: int,
                   cache: dict | None = None, key: str | None = None,
                   container: str = "zstd") -> int:
    """Pick codec for an int32/int64/float/double chunk.

    `cache`/`key`: per-task memo — the block-codec measurement re-runs only
    when the MODEL shortlist for this column changes between chunks
    (distribution shifts alter the shortlist; stable streams skip the
    measured pass).

    `container`: block codec the blob will ultimately sit under — either the
    per-column compression spec or the container file's codec (encode jobs
    should set spark.sql.parquet.compression.codec to match; bench/local
    default zstd). The measured refinement ranks FINAL bytes under this
    codec, so a mismatched name tunes the ranking to the wrong target."""
    n = vals.size
    if n == 0:
        return codecs.PLAIN
    itemsize = 4 if phys in (codecs.PHYS_INT32, codecs.PHYS_FLOAT) else 8
    # contiguous slice sample preserves run structure
    s0 = max(0, (n - SAMPLE) // 2)
    sample = np.asarray(vals[s0:s0 + SAMPLE])
    m = sample.size
    card = np.unique(sample).size
    n_runs, mean_run = _run_stats(sample)
    est = {codecs.PLAIN: float(itemsize)}
    if card <= m * 0.5:
        width = max(1, int(np.ceil(np.log2(max(card, 2)))))
        # dict: codes bits/value (RLE-hybrid ≈ width/8 bytes; runs help)
        code_bytes = width / 8.0 if mean_run < 4 else (2.0 + width / 8.0) / mean_run
        dict_overhead = card * itemsize / max(n, 1)
        est[codecs.DICT] = code_bytes + dict_overhead
    if phys in (codecs.PHYS_INT32, codecs.PHYS_INT64):
        est[codecs.DELTA_BP] = _est_delta_bits(sample) / 8.0
        # FOR: byte-aligned residuals over the chunk min — for bounded-range
        # values WITHOUT local correlation (random vocab token ids) this is
        # the narrowest layout that still decodes at widen+add speed
        if sample.size:
            s64 = np.ascontiguousarray(sample, np.int64)
            # span via Python ints — exact for any int64 range (numpy
            # max-min would overflow on full-range data)
            span = int(s64.max()) - int(s64.min())
            est[codecs.FOR] = float(max(1, (span.bit_length() + 7) // 8))
        if mean_run >= 4 and sample.size:
            # RLES (structure-of-arrays runs): ~1 lens byte + span-width
            # value bytes per RUN. Replaces the interleaved hybrid (RLE)
            # for numerics — same information, but decode is two FOR
            # decodes + np.repeat instead of a sequential header walk
            # (the hybrid's walk was the top decode kernel). Span-based,
            # so negatives need no PLAIN reroute.
            est[codecs.RLES] = (1.0 + max(1, (span.bit_length() + 7) // 8)) / mean_run
    if phys in (codecs.PHYS_FLOAT, codecs.PHYS_DOUBLE):
        # BSS costs the same bytes as PLAIN but compresses far better under
        # the container's block codec; prefer it unless dict is a clear win
        est[codecs.BSS] = itemsize * 0.95
    # Container-aware refinement: the model ranks PRE-container bytes, but
    # the artifact is zstd-compressed by the blob container, and raw bytes
    # can out-compress a bit-packed stream (packing destroys the byte-level
    # matches zstd's LZ stage finds — e.g. repeated token n-grams). Measure
    # the real encoded+zstd size of the shortlisted candidates on the
    # sample and pick the smallest FINAL size.
    best_model = min(est.values())
    short = {c for c, v in est.items() if v <= best_model * 2.5}
    short.add(codecs.PLAIN)
    if len(short) > 1:
        memo_key = (key, frozenset(short), min(est, key=est.get), container)
        if cache is not None and key is not None and memo_key in cache:
            return cache[memo_key]
        # measured sample must be LARGE (≥128Ki values): zstd's advantage on
        # raw bytes comes from long-range matches (repeated token n-grams
        # across documents) that an 8K sample cannot see — the plain/delta
        # ranking inverts between 8K and 128K samples on real token data
        m0 = max(0, (n - MEASURE_SAMPLE) // 2)
        msample = np.asarray(vals[m0:m0 + MEASURE_SAMPLE])
        measured = {c: _measured_final_bytes(c, phys, msample, container)
                    for c in short}
        # ties (e.g. incompressible data) fall back to the model ranking
        pick = min(short, key=lambda c: (measured[c], est.get(c, float("inf"))))
        if cache is not None and key is not None:
            cache[memo_key] = pick
        return pick
    return min(est, key=est.get)


def _measured_final_bytes(codec: int, phys: int, sample: np.ndarray,
                          container: str = "zstd",
                          ba_data: np.ndarray | None = None,
                          ba_offsets: np.ndarray | None = None) -> float:
    """Actual bytes/value of (encode + container block codec) on the sample."""
    import pyarrow as pa

    from .chunk import _encode_payload

    n_vals = ba_offsets.size - 1 if ba_offsets is not None else sample.size
    try:
        payload = _encode_payload(codec, phys, sample, ba_data, ba_offsets)
    except Exception:
        return float("inf")
    try:
        comp = pa.Codec(container).compress(payload)
    except Exception:  # container codec unknown to Arrow (e.g. uncompressed)
        return len(payload) / max(n_vals, 1)
    return min(len(payload), len(comp) + 16) / max(n_vals, 1)


MEASURE_BINARY_VALUES = 32768
MEASURE_BINARY_BYTES = 4 << 20


def choose_binary(data: np.ndarray, offsets: np.ndarray,
                  cache: dict | None = None, key: str | None = None,
                  container: str = "zstd") -> int:
    """Pick codec for a byte_array chunk: model estimates shortlist the
    candidates (DICT / DBA / FSST / DLBA / PLAIN), then — exactly like the
    numeric path — the shortlist is MEASURED (encode + container block
    codec) on a bounded contiguous sample and the smallest FINAL size wins.
    doc_id/text columns dominate bytes on string-heavy tables, so the
    string ranking deserves the same real measurement numeric gets; the
    per-task `cache` memo keeps it O(1) per stable column stream."""
    n = offsets.size - 1
    if n == 0:
        return codecs.PLAIN
    idx = _sample_idx(n, SAMPLE // 4)
    lens = np.diff(offsets)
    slens = lens[idx]
    avg_len = float(slens.mean()) if slens.size else 0.0
    # cardinality estimate via hashing sampled values
    starts = offsets[:-1][idx]
    ends = offsets[1:][idx]
    take = np.minimum(slens, 8)
    hkey = np.zeros(idx.size, dtype=np.uint64)
    d = np.asarray(data)
    for k in range(8):
        m = take > k
        if not m.any():
            break
        # head byte k and tail byte -1-k both feed the hash
        hkey[m] = hkey[m] * np.uint64(131) + d[starts[m] + k].astype(np.uint64)
        hkey[m] = hkey[m] * np.uint64(137) + d[ends[m] - 1 - k].astype(np.uint64)
    hkey = hkey * np.uint64(2654435761) + slens.astype(np.uint64)
    card = np.unique(hkey).size
    card_ratio = card / max(idx.size, 1)
    # estimate shared-prefix gain on consecutive sampled pairs
    from .codecs.delta_ba import _common_prefix_lens

    s2 = min(n, 512)
    pre = _common_prefix_lens(np.asarray(data), np.asarray(offsets[: s2 + 1]))
    prefix_ratio = float(pre.mean()) / max(float(lens[:s2].mean()), 1e-9)
    # model estimates: expected stored bytes/value pre-container
    est = {codecs.PLAIN: avg_len + 4.0,
           codecs.DLBA: avg_len + 0.4}
    if card_ratio <= 0.6:
        width = max(1, int(np.ceil(np.log2(max(card, 2)))))
        est[codecs.DICT] = width / 8.0 + card_ratio * avg_len * 0.5
    if prefix_ratio >= 0.2:
        est[codecs.DBA] = (1.0 - prefix_ratio) * avg_len + 1.0
    if avg_len >= 6.0:
        est[codecs.FSST] = avg_len * 0.55 + 0.3
    best_model = min(est.values())
    short = {c for c, v in est.items() if v <= best_model * 2.5}
    short.add(codecs.PLAIN)  # raw bytes under the container can win (LZ
    short.add(codecs.DLBA)   # matches survive), and DLBA is its cheap kin
    memo_key = ("bin", key, frozenset(short), min(est, key=est.get), container)
    if cache is not None and key is not None and memo_key in cache:
        return cache[memo_key]
    # contiguous measured sample: up to MEASURE_BINARY_VALUES values,
    # capped at MEASURE_BINARY_BYTES payload bytes
    k_vals = MEASURE_BINARY_VALUES
    if avg_len > 0:
        k_vals = min(k_vals, max(256, int(MEASURE_BINARY_BYTES / avg_len)))
    k_vals = min(k_vals, n)
    v0 = max(0, (n - k_vals) // 2)
    s_off = np.asarray(offsets[v0:v0 + k_vals + 1], dtype=np.int64)
    base = int(s_off[0])
    s_data = d[base:int(s_off[-1])]
    s_off = s_off - base
    measured = {c: _measured_final_bytes(c, codecs.PHYS_BYTE_ARRAY, None,
                                         container, ba_data=s_data,
                                         ba_offsets=s_off)
                for c in short}
    pick = min(short, key=lambda c: (measured[c], est.get(c, float("inf"))))
    if cache is not None and key is not None:
        cache[memo_key] = pick
    return pick


def choose(phys: int, *, values=None, ba_data=None, ba_offsets=None,
           cache: dict | None = None, key: str | None = None,
           container: str = "zstd") -> int:
    if phys == codecs.PHYS_BYTE_ARRAY:
        return choose_binary(ba_data, ba_offsets, cache=cache, key=key,
                             container=container)
    if phys == codecs.PHYS_BOOL:
        return codecs.RLE
    return choose_numeric(values, phys, cache=cache, key=key,
                          container=container)
