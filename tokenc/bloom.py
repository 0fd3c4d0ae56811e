"""Split-block Bloom filters (SBBF) for per-chunk point-lookup pruning.

Structure follows the public Parquet format spec's BloomFilter (SBBF:
256-bit blocks of eight 32-bit words; each value sets one salted bit per
word in one block — two cache lines per probe). The hash is pandas'
documented deterministic `hash_array` (SipHash-1-3 with a fixed key, same
result in every process) rather than parquet's xxHash64 — this filter
lives in tokenc's own manifest metadata, not a parquet page, so only
build/probe agreement matters.

Why: min/max chunk stats (engine.prune) only prune SORTED or
clustered layouts. A high-cardinality key in arrival order (doc_id in an
unsorted corpus) spans nearly the full value range in every chunk, so
range stats keep everything; a bloom filter still prunes every chunk the
key is not actually in (fp ≈ 1% at the default 10 bits/value). This is
the hash-analog of the reference's ColumnIndex-driven skipping
(writer/writer.go:418-481, reader/columnbuffer.go:158-230) — an
upgrade-over-reference component like the codec auto-selector, since
parquet-go exposes no bloom filters.

Scale: filters are built per chunk inside the encode task (vectorized),
ride the manifest's meta struct (~1.25 bytes/value, capped), and a probe
touches ONE filter per row group — metadata-scale work, never row data.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"SB01"
# the SBBF salt constants from the public parquet-format spec
_SALT = np.array([0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
                  0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31],
                 dtype=np.uint32)
DEFAULT_BITS_PER_VALUE = 10
MAX_BYTES = 1 << 16  # 64 KiB cap per chunk
_MIN_BLOCKS = 1


def hash_values(values) -> np.ndarray:
    """Deterministic uint64 hashes. Numerics are normalized (int→int64,
    float→float64, bool→int64) so build and probe agree regardless of the
    column's physical width; byte-likes hash as opaque bytes."""
    import pandas as pd

    a = np.asarray(values)
    if a.dtype == object or a.dtype.kind in ("S", "U"):
        obj = np.empty(len(a), dtype=object)
        obj[:] = [v if isinstance(v, (bytes, str)) else bytes(v)
                  for v in a]
        return pd.util.hash_array(obj, categorize=False)
    if a.dtype.kind in ("i", "u", "b"):
        a = a.astype(np.int64, copy=False)
    elif a.dtype.kind == "f":
        a = a.astype(np.float64, copy=False)
    else:
        raise TypeError(f"unhashable dtype for bloom: {a.dtype}")
    return pd.util.hash_array(a)


def hash_bytes_concat(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Hashes for a flattened byte_array column (ba_data + ba_offsets).
    Arrow builds the per-value bytes objects in C from the two buffers;
    hash_array sees the same objects as hash_values' bytes branch, so the
    hashes (and every stored filter) are unchanged."""
    import pandas as pd
    import pyarrow as pa

    offs = np.ascontiguousarray(offsets, dtype=np.int64)
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(offs) - 1,
        [None, pa.py_buffer(offs), pa.py_buffer(np.ascontiguousarray(data))])
    return pd.util.hash_array(arr.to_numpy(zero_copy_only=False),
                              categorize=False)


def _block_and_mask(h: np.ndarray, nblocks: int):
    h = h.astype(np.uint64, copy=False)
    block = ((h >> np.uint64(32)) * np.uint64(nblocks)) >> np.uint64(32)
    x = (h & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    # one bit per 32-bit word: bit_i = (x * SALT_i) >> 27  (mod-2^32 mult)
    bits = (x[:, None] * _SALT[None, :]) >> np.uint32(27)
    masks = (np.uint32(1) << bits).astype(np.uint32)
    return block.astype(np.int64), masks


def build_bloom(hashes: np.ndarray,
                bits_per_value: int = DEFAULT_BITS_PER_VALUE,
                max_bytes: int = MAX_BYTES) -> bytes:
    """uint64 hashes → serialized SBBF (MAGIC + uint32 nblocks + blocks)."""
    n = len(hashes)
    want_bytes = max(32, (n * bits_per_value + 7) // 8)
    nblocks = max(_MIN_BLOCKS, min(max_bytes, want_bytes) // 32)
    filt = np.zeros((nblocks, 8), dtype=np.uint32)
    if n:
        block, masks = _block_and_mask(hashes, nblocks)
        for i in range(8):
            np.bitwise_or.at(filt[:, i], block, masks[:, i])
    return MAGIC + struct.pack("<I", nblocks) + filt.tobytes()


def might_contain(blob: bytes, hashes: np.ndarray) -> np.ndarray:
    """Per-hash maybe-membership (False = definitely absent)."""
    if blob[:4] != MAGIC:
        raise ValueError("not a tokenc bloom filter blob")
    (nblocks,) = struct.unpack_from("<I", blob, 4)
    filt = np.frombuffer(blob, dtype=np.uint32, offset=8).reshape(nblocks, 8)
    block, masks = _block_and_mask(np.asarray(hashes, dtype=np.uint64),
                                   nblocks)
    return ((filt[block] & masks) == masks).all(axis=1)
