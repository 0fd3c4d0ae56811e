"""RLES — run-length encoding in a structure-of-arrays layout.

The Parquet RLE/bit-packed hybrid (rle.py; reference scalar writer
/root/reference/encoding/encodingwrite.go:149-214) interleaves varint run
headers with payload bytes, so decoding begins with an inherently
sequential header walk: each run's position depends on the decoded length
of every header before it. On runs-heavy numeric chunks that walk is the
single hottest decode kernel in the engine (~2 µs/run of pure Python,
~33 MB/s effective on real mixed-run token streams) and no windowed
numpy speculation beats it when run kinds/header widths mix densely —
the data dependency is the layout's, not the implementation's.

This codec stores the SAME information — the column as equal-value runs —
with the metadata separated from the payload so nothing is walked:

    uvarint      n_runs
    for_bp blob  run lengths (n_runs values, each >= 1)
    for_bp blob  run values  (n_runs values)

Decode is two vectorized frame-of-reference decodes plus one np.repeat;
zero per-run work of any kind, any mix of short and long runs. Encode is
one run scan plus two FOR encodes. Both sides are pure byte-lane numpy.

Size: a run costs (1-2 lens bytes + value-width bytes), about the same as
the hybrid's (1-2 byte header + value) rle-runs; short-run stretches cost
~1 byte/run more than the hybrid's bit-packed segments pre-container, but
the split lens/values streams are each homogeneous, which the container's
zstd LZ stage likes — the selector's measured refinement ranks final
(encoded + container) bytes and picks RLES only where it actually wins.

Unlike rle.py's unsigned width derivation, FOR is span-based, so negative
values round-trip natively (no PLAIN reroute needed).

Internal-format upgrade permitted by the north rule's codec list ("dict,
RLE, FSST, bit-pack, frame-of-reference" — this composes RLE with
frame-of-reference). The spec-exact interleaved hybrid lives on in rle.py
for reference parity, levels, bools, and dictionary codes.
"""

from __future__ import annotations

import numpy as np

from . import for_bp, varint
from .rle import _run_bounds


def encode(vals: np.ndarray) -> bytes:
    """Encode an int32/int64 array as (run lengths, run values)."""
    a = np.asarray(vals)
    if a.size == 0:
        return varint.encode_uvarint(0)
    starts, lens = _run_bounds(a)
    # run values keep the input dtype: int32 inputs take for_bp's
    # uint32-lane fast path
    return (varint.encode_uvarint(starts.size)
            + for_bp.encode(lens)
            + for_bp.encode(a[starts]))


def decode(buf: bytes | np.ndarray, count: int, pos: int = 0,
           out_dtype=np.int64) -> tuple[np.ndarray, int]:
    """→ (values, next_pos). `out_dtype=np.int32` takes for_bp's
    uint32-lane fast path for int32-physical columns. Raises ValueError
    unless the run lengths sum to exactly `count`."""
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    n_runs, pos = varint.decode_uvarint(raw, pos)
    if n_runs == 0:
        lens = run_vals = np.empty(0, out_dtype)
    else:
        lens, pos = for_bp.decode(raw, n_runs, pos)
        run_vals, pos = for_bp.decode(raw, n_runs, pos, out_dtype=out_dtype)
    total = int(lens.sum())
    if total != count:
        raise ValueError(f"rle_soa stream holds {total} values, need {count}")
    return np.repeat(run_vals, lens), pos
