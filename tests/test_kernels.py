"""Kernel-level golden-byte + roundtrip tests.

Mirrors the reference's test strategy (SURVEY.md §5): exact expected bytes
for format-defined encodings, then encode→decode identity on crafted and
randomized distributions including extremes.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tokenc import codecs, selector
from tokenc.codecs import (bitpack, bss, delta_ba, delta_bp, dict_codec,
                           for_bp, fsst, plain, rle, rle_soa, varint)


# ---------------------------------------------------------------- varint ----

class TestVarint:
    @pytest.mark.parametrize("num,expect", [
        (0, b"\x00"),
        (1, b"\x01"),
        (127, b"\x7f"),
        (128, b"\x80\x01"),
        (300, b"\xac\x02"),          # classic ULEB128 example
        (0xFFFFFFFFFFFFFFFF, b"\xff" * 9 + b"\x01"),
    ])
    def test_golden(self, num, expect):
        assert varint.encode_uvarint(num) == expect
        val, pos = varint.decode_uvarint(np.frombuffer(expect, np.uint8))
        assert val == num and pos == len(expect)

    def test_zigzag(self):
        vals = np.array([0, -1, 1, -2, 2, 2**31 - 1, -2**31, 2**62, -2**62], dtype=np.int64)
        zz = varint.zigzag_encode(vals)
        assert list(zz[:5]) == [0, 1, 2, 3, 4]  # spec mapping
        for v, z in zip(vals, zz):
            assert varint.zigzag_encode_scalar(int(v), 64) == int(z)
            assert varint.zigzag_decode_scalar(int(z)) == v


# --------------------------------------------------------------- bitpack ----

class TestBitpack:
    def test_golden_width3(self):
        # parquet spec example: values 0..7 at width 3 → 0b10001000 0b11000110 0b11111010
        vals = np.arange(8, dtype=np.uint64)
        assert bitpack.pack(vals, 3) == bytes([0b10001000, 0b11000110, 0b11111010])
        out = bitpack.unpack(bitpack.pack(vals, 3), 3, 8)
        np.testing.assert_array_equal(out, vals)

    @pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 12, 16, 20, 31, 32, 33, 63, 64])
    def test_roundtrip(self, width):
        rng = np.random.default_rng(width)
        hi = (1 << width) - 1
        vals = rng.integers(0, hi + 1 if width < 64 else hi, 999, dtype=np.uint64)
        vals[0] = hi
        vals[1] = 0
        out = bitpack.unpack(bitpack.pack(vals, width), width, vals.size)
        np.testing.assert_array_equal(out, vals)

    def test_zero_width(self):
        assert bitpack.pack(np.zeros(5, np.uint64), 0) == b""
        np.testing.assert_array_equal(bitpack.unpack(b"", 0, 5), np.zeros(5, np.uint64))


# ------------------------------------------------------------------- rle ----

class TestRLE:
    def test_golden_pure_rle(self):
        # 8x value 4 at width 3: header varint(8<<1)=0x10, value byte 0x04
        vals = np.full(8, 4, dtype=np.uint64)
        assert rle.encode(vals, 3) == b"\x10\x04"

    @pytest.mark.parametrize("gen", ["runs", "random", "mixed", "alternating", "const"])
    @pytest.mark.parametrize("width", [1, 3, 8, 17, 32])
    def test_roundtrip(self, gen, width):
        rng = np.random.default_rng(hash((gen, width)) % 2**32)
        hi = (1 << width) - 1
        if gen == "runs":
            vals = np.repeat(rng.integers(0, hi + 1, 37, dtype=np.uint64),
                             rng.integers(1, 50, 37))
        elif gen == "random":
            vals = rng.integers(0, hi + 1, 1013, dtype=np.uint64)
        elif gen == "mixed":
            a = np.repeat(rng.integers(0, hi + 1, 5, dtype=np.uint64), 100)
            b = rng.integers(0, hi + 1, 57, dtype=np.uint64)
            vals = np.concatenate([a[:250], b, a[250:]])
        elif gen == "alternating":
            vals = np.tile(np.array([0, hi], dtype=np.uint64), 100)
        else:
            vals = np.full(1000, hi, dtype=np.uint64)
        blob = rle.encode(vals, width)
        out, pos = rle.decode(blob, width, vals.size)
        assert pos <= len(blob)
        np.testing.assert_array_equal(out, vals)

    def test_empty(self):
        assert rle.encode(np.empty(0, np.uint64), 5) == b""
        out, _ = rle.decode(b"", 5, 0)
        assert out.size == 0


# --------------------------------------------------------------- rle_soa ----


class TestRLESoA:
    @pytest.mark.parametrize("dtype", [np.int32, np.int64])
    @pytest.mark.parametrize("gen", ["runs", "singletons", "mixed", "const",
                                     "negative"])
    def test_roundtrip(self, gen, dtype):
        rng = np.random.default_rng(hash((gen, np.dtype(dtype).str)) % 2**32)
        if gen == "runs":
            vals = np.repeat(rng.integers(0, 1000, 40, dtype=np.int64),
                             rng.integers(1, 80, 40))
        elif gen == "singletons":
            vals = rng.integers(-(2**30), 2**30, 999, dtype=np.int64)
        elif gen == "mixed":
            a = np.repeat(rng.integers(0, 50, 7, dtype=np.int64), 200)
            b = rng.integers(0, 50, 63, dtype=np.int64)
            vals = np.concatenate([a[:700], b, a[700:]])
        elif gen == "const":
            vals = np.full(5000, -17, dtype=np.int64)
        else:
            vals = np.repeat(np.array([-(2**31), 2**31 - 1, -1, 0], np.int64),
                             [3, 1, 500, 2])
        vals = vals.astype(dtype)
        blob = rle_soa.encode(vals)
        out, pos = rle_soa.decode(blob, vals.size, out_dtype=dtype)
        assert pos == len(blob)
        assert out.dtype == np.dtype(dtype)
        np.testing.assert_array_equal(out, vals)

    def test_empty(self):
        blob = rle_soa.encode(np.empty(0, np.int64))
        out, pos = rle_soa.decode(blob, 0)
        assert out.size == 0 and pos == len(blob)

    def test_const_run_is_tiny(self):
        # one run: uvarint(1) + two 1-value FOR blobs — far under a byte/value
        blob = rle_soa.encode(np.full(100_000, 42, np.int32))
        assert len(blob) < 32

    def test_short_count_raises(self):
        blob = rle_soa.encode(np.array([1, 1, 2], np.int64))
        with pytest.raises(ValueError):
            rle_soa.decode(blob, 4)

    def test_surplus_count_raises(self):
        # runs summing past `count` are a corrupt stream, not a prefix
        blob = rle_soa.encode(np.array([1, 1, 2, 2, 2], np.int64))
        with pytest.raises(ValueError, match="holds 5 values, need 3"):
            rle_soa.decode(blob, 3)

    def test_empty_stream_with_count_raises(self):
        # n_runs == 0 decodes to nothing; claiming values is corrupt
        blob = rle_soa.encode(np.empty(0, np.int64))
        with pytest.raises(ValueError, match="holds 0 values, need 7"):
            rle_soa.decode(blob, 7)

    def test_int64_extremes(self):
        vals = np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                         0, 0, 0, np.iinfo(np.int64).min], np.int64)
        out, _ = rle_soa.decode(rle_soa.encode(vals), vals.size)
        np.testing.assert_array_equal(out, vals)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.tuples(
        st.integers(-(2**63), 2**63 - 1),   # run value
        st.integers(1, 64)),                 # run length
        min_size=0, max_size=60))
    def test_property_int64(self, runs):
        vals = (np.repeat(np.array([v for v, _ in runs], np.int64),
                          np.array([l for _, l in runs], np.int64))
                if runs else np.empty(0, np.int64))
        out, pos = rle_soa.decode(rle_soa.encode(vals), vals.size)
        np.testing.assert_array_equal(out, vals)


# -------------------------------------------------------------- delta_bp ----

class TestDeltaBP:
    def test_golden_header(self):
        # single value 7: blocksize 128, 4 miniblocks, count 1, zigzag(7)=14
        blob = delta_bp.encode(np.array([7], dtype=np.int64))
        assert blob == bytes([128 & 0x7F | 0x80, 1, 4, 1, 14])

    @pytest.mark.parametrize("bits", [32, 64])
    @pytest.mark.parametrize("kind", ["monotone", "random", "const", "zigzaggy", "extremes", "short"])
    def test_roundtrip(self, bits, kind):
        rng = np.random.default_rng(hash((bits, kind)) % 2**32)
        if kind == "monotone":
            vals = np.cumsum(rng.integers(0, 9, 5000)).astype(np.int64)
        elif kind == "random":
            lo, hi = (-2**31, 2**31 - 1) if bits == 32 else (-2**62, 2**62)
            vals = rng.integers(lo, hi, 4321, dtype=np.int64)
        elif kind == "const":
            vals = np.full(1000, -42, dtype=np.int64)
        elif kind == "zigzaggy":
            vals = (rng.integers(-5, 6, 2000)).astype(np.int64)
        elif kind == "extremes":
            if bits == 32:
                vals = np.array([2**31 - 1, -2**31, 0, -1, 2**31 - 1, -2**31] * 30, dtype=np.int64)
            else:
                vals = np.array([2**63 - 1, -2**63, 0, -1, 2**63 - 1, -2**63] * 30, dtype=np.int64)
        else:
            vals = np.array([5, 3], dtype=np.int64)
        blob = delta_bp.encode(vals, bits=bits)
        out, pos = delta_bp.decode(blob, bits=bits)
        assert pos == len(blob)
        expect = vals.astype(np.int32) if bits == 32 else vals
        np.testing.assert_array_equal(out, expect)

    def test_sizes(self):
        # monotone small-delta data must compress hard: < 1.5 bits/value + overhead
        vals = np.arange(100_000, dtype=np.int64)
        blob = delta_bp.encode(vals, bits=32)
        assert len(blob) < 100_000 * 0.2

    def test_empty_and_single(self):
        for arr in ([], [99]):
            vals = np.array(arr, dtype=np.int64)
            out, _ = delta_bp.decode(delta_bp.encode(vals), bits=32)
            np.testing.assert_array_equal(out, vals.astype(np.int32))

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=0, max_size=700))
    def test_property_int64(self, xs):
        vals = np.array(xs, dtype=np.int64)
        out, _ = delta_bp.decode(delta_bp.encode(vals, bits=64), bits=64)
        np.testing.assert_array_equal(out, vals)


# ----------------------------------------------------------------- plain ----

class TestPlain:
    @pytest.mark.parametrize("phys,dtype", [
        ("int32", np.int32), ("int64", np.int64), ("float", np.float32), ("double", np.float64),
    ])
    def test_numeric(self, phys, dtype):
        rng = np.random.default_rng(7)
        vals = (rng.standard_normal(500) * 1000).astype(dtype)
        blob = plain.encode_numeric(vals, phys)
        assert len(blob) == vals.itemsize * vals.size  # golden: fixed LE width
        out, pos = plain.decode_numeric(blob, phys, vals.size)
        assert pos == len(blob)
        np.testing.assert_array_equal(out, vals)

    def test_golden_int32(self):
        assert plain.encode_numeric(np.array([1, -1], np.int32), "int32") == b"\x01\x00\x00\x00\xff\xff\xff\xff"

    def test_bool(self):
        vals = np.array([1, 0, 1, 1, 0, 0, 0, 1, 1], dtype=bool)
        blob = plain.encode_bool(vals)
        assert blob == bytes([0b10001101, 0b00000001])
        out, _ = plain.decode_bool(blob, vals.size)
        np.testing.assert_array_equal(out, vals)

    def test_byte_array(self):
        strs = [b"hello", b"", b"parquet-go", b"\x00\xff", b"x" * 300]
        data = np.frombuffer(b"".join(strs), np.uint8)
        offsets = np.cumsum([0] + [len(s) for s in strs]).astype(np.int64)
        blob = plain.encode_byte_array(data, offsets)
        # golden: first value length prefix
        assert blob[:9] == b"\x05\x00\x00\x00hello"
        d, o, pos = plain.decode_byte_array(blob, len(strs))
        assert pos == len(blob)
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)


# ------------------------------------------------------------------ dict ----

class TestDict:
    @pytest.mark.parametrize("phys,dtype", [("int32", np.int32), ("int64", np.int64), ("double", np.float64)])
    def test_numeric_roundtrip(self, phys, dtype):
        rng = np.random.default_rng(3)
        vals = rng.choice(np.array([5, -17, 900, 3], dtype=dtype), 2000)
        blob = dict_codec.encode_numeric(vals, phys)
        out, _ = dict_codec.decode_numeric(blob, phys, vals.size)
        np.testing.assert_array_equal(out, vals)
        # low cardinality → tiny: 4 uniques = 2-bit codes
        assert len(blob) < 2000

    def test_first_occurrence_order(self):
        codes, uniq = dict_codec.factorize_numeric(np.array([30, 10, 30, 20], np.int32))
        np.testing.assert_array_equal(uniq, [30, 10, 20])
        np.testing.assert_array_equal(codes, [0, 1, 0, 2])

    def test_binary_roundtrip(self):
        strs = [b"src%d" % (i % 20) for i in range(3000)]
        data = np.frombuffer(b"".join(strs), np.uint8)
        offsets = np.cumsum([0] + [len(s) for s in strs]).astype(np.int64)
        blob = dict_codec.encode_binary(data, offsets)
        d, o, _ = dict_codec.decode_binary(blob, len(strs))
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)
        assert len(blob) < len(data)

    def test_codes_layouts(self):
        # runs-heavy → RLES tag; random → dense tag; both roundtrip
        runs = np.repeat(np.arange(8, dtype=np.int64), 100)
        rnd = np.arange(800, dtype=np.int64) % 7  # mean run 1
        for codes, want in [(runs, dict_codec.CODES_RLES),
                            (rnd, dict_codec.CODES_DENSE)]:
            width = 3
            sec = dict_codec._encode_codes(codes, width)
            assert sec[0] >> 6 == want
            out, pos = dict_codec._decode_codes(
                np.frombuffer(sec, np.uint8), codes.size, 0)
            assert pos == len(sec)
            np.testing.assert_array_equal(out, codes)

    def test_codes_legacy_hybrid_tag_decodes(self):
        codes = np.array([0, 0, 1, 2, 1, 0] * 50, np.int64)
        sec = bytes([dict_codec.CODES_HYBRID << 6 | 2]) \
            + rle.encode(codes.astype(np.uint64), 2)
        out, _ = dict_codec._decode_codes(
            np.frombuffer(sec, np.uint8), codes.size, 0)
        np.testing.assert_array_equal(out, codes)

    def test_codes_bad_tag_raises(self):
        bad = bytes([3 << 6 | 2]) + b"\x00" * 8
        with pytest.raises(ValueError, match="layout"):
            dict_codec._decode_codes(np.frombuffer(bad, np.uint8), 4, 0)


# ------------------------------------------------------------- delta_ba -----

def _col(strs):
    data = np.frombuffer(b"".join(strs), np.uint8)
    offsets = np.cumsum([0] + [len(s) for s in strs]).astype(np.int64)
    return data, offsets


class TestDeltaBA:
    def test_dlba_roundtrip(self):
        strs = [b"doc_%06d" % i for i in range(1000)] + [b"", b"tail"]
        data, offsets = _col(strs)
        blob = delta_ba.encode_dlba(data, offsets)
        d, o, pos = delta_ba.decode_dlba(blob, len(strs))
        assert pos == len(blob)
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)

    def test_dba_roundtrip_and_size(self):
        strs = [b"doc_%06d" % i for i in range(2000)]
        data, offsets = _col(strs)
        blob = delta_ba.encode_dba(data, offsets)
        d, o, pos = delta_ba.decode_dba(blob, len(strs))
        assert pos == len(blob)
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)
        assert len(blob) < len(data)  # front coding strips the shared prefix

    def test_dba_no_shared_prefix(self):
        strs = [b"abc", b"xyz", b"", b"a", b"xab"]
        data, offsets = _col(strs)
        d, o, _ = delta_ba.decode_dba(delta_ba.encode_dba(data, offsets), len(strs))
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)


# ------------------------------------------------------------------- bss ----

class TestBSS:
    @pytest.mark.parametrize("phys,dtype", [("float", np.float32), ("double", np.float64)])
    def test_roundtrip(self, phys, dtype):
        rng = np.random.default_rng(9)
        vals = rng.standard_normal(1111).astype(dtype)
        blob = bss.encode(vals, phys)
        assert len(blob) == vals.size * vals.itemsize
        out, pos = bss.decode(blob, phys, vals.size)
        assert pos == len(blob)
        np.testing.assert_array_equal(out, vals)

    def test_golden_plane_layout(self):
        vals = np.array([1.0, 2.0], dtype=np.float32)  # 0x3f800000, 0x40000000
        blob = bss.encode(vals, "float")
        assert blob == bytes([0x00, 0x00, 0x00, 0x00, 0x80, 0x00, 0x3F, 0x40])


# ------------------------------------------------------------------ fsst ----

class TestFSST:
    def test_roundtrip_repetitive(self):
        strs = [b"http://example.com/page/%d" % (i % 50) for i in range(2000)]
        data, offsets = _col(strs)
        blob = fsst.encode(data, offsets)
        d, o, pos = fsst.decode(blob, len(strs))
        assert pos == len(blob)
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)
        assert len(blob) < len(data)  # must actually compress

    def test_roundtrip_adversarial(self):
        rng = np.random.default_rng(11)
        strs = [bytes(rng.integers(0, 256, rng.integers(0, 30), dtype=np.uint8)) for _ in range(500)]
        strs += [b"", b"\xff" * 7, b"\xff\x00\xff", bytes(range(256))]
        data, offsets = _col(strs)
        blob = fsst.encode(data, offsets)
        d, o, _ = fsst.decode(blob, len(strs))
        np.testing.assert_array_equal(o, offsets)
        np.testing.assert_array_equal(d, data)

    def test_empty(self):
        data, offsets = _col([])
        blob = fsst.encode(data, offsets)
        d, o, _ = fsst.decode(blob, 0)
        assert o.size == 1 and d.size == 0


# ----------------------------------------------------- 32-bit-lane paths ----

class TestBitpack32Lanes:
    """pack32/unpack32 must be byte-identical to the 64-bit-lane kernels:
    an LSB-first bitstream in little-endian memory is word-size invariant."""

    @pytest.mark.parametrize("width", [1, 2, 3, 7, 8, 13, 16, 17, 24, 31, 32])
    def test_pack32_matches_pack(self, width):
        rng = np.random.default_rng(width)
        for n in (1, 31, 32, 33, 64, 1000):
            vals = rng.integers(0, 2**width, n, dtype=np.uint64)
            assert bitpack.pack32(vals, width) == bitpack.pack(vals, width)

    @pytest.mark.parametrize("width", [1, 5, 12, 20, 32])
    def test_unpack32_roundtrip(self, width):
        rng = np.random.default_rng(width + 100)
        vals = rng.integers(0, 2**width, 777, dtype=np.uint64)
        packed = bitpack.pack(vals, width)
        out = bitpack.unpack32(packed, width, vals.size)
        np.testing.assert_array_equal(out.astype(np.uint64), vals)

    def test_pack32_rejects_wide(self):
        with pytest.raises(ValueError):
            bitpack.pack32(np.array([1], np.uint64), 33)


class TestDelta32Lanes:
    """The 32-bit delta_bp fast path: byte-identical to the 64-bit encoder
    for non-wrapping data; modular-correct roundtrip always (Go int32
    arithmetic semantics, reference encoding/encodingwrite.go:287-343)."""

    def test_bytes_match_64bit_path_nonwrapping(self):
        rng = np.random.default_rng(3)
        vals = rng.integers(-10_000, 10_000, 5000, dtype=np.int64)
        vals.sort()
        a = delta_bp._encode32(vals.astype(np.int32))
        # force the generic path by going through bits=64 header? No: the
        # 64-bit encoder with int32-range input emits the same stream
        b = delta_bp.encode(vals, bits=64)
        assert a == b

    def test_wrap_roundtrip(self):
        vals = np.array([-2**31, 2**31 - 1, -2**31, 0, 2**31 - 1, 7], np.int32)
        blob = delta_bp.encode(vals, bits=32)
        out, _ = delta_bp.decode(blob, bits=32)
        np.testing.assert_array_equal(out, vals)

    @given(st.lists(st.integers(-2**31, 2**31 - 1), min_size=0, max_size=700))
    @settings(max_examples=60, deadline=None)
    def test_property_roundtrip_int32(self, xs):
        vals = np.array(xs, dtype=np.int32)
        out, _ = delta_bp.decode(delta_bp.encode(vals, bits=32), bits=32)
        np.testing.assert_array_equal(out, vals)

    def test_tile_boundaries_invisible(self):
        """Streams must not depend on the tile size (pure layout blocking)."""
        rng = np.random.default_rng(9)
        vals = rng.integers(0, 50_000, delta_bp._TILE_BLOCKS * delta_bp.BLOCK * 2 + 77,
                            dtype=np.int32)
        ref = delta_bp.encode(vals, bits=32)
        old = delta_bp._TILE_BLOCKS
        try:
            delta_bp._TILE_BLOCKS = 3
            assert delta_bp.encode(vals, bits=32) == ref
        finally:
            delta_bp._TILE_BLOCKS = old

    def test_int64_tiling_invisible(self):
        rng = np.random.default_rng(11)
        vals = rng.integers(-2**40, 2**40, delta_bp._TILE_BLOCKS * delta_bp.BLOCK + 991,
                            dtype=np.int64)
        ref = delta_bp.encode(vals, bits=64)
        old = delta_bp._TILE_BLOCKS
        try:
            delta_bp._TILE_BLOCKS = 5
            assert delta_bp.encode(vals, bits=64) == ref
        finally:
            delta_bp._TILE_BLOCKS = old
        out, _ = delta_bp.decode(ref, bits=64)
        np.testing.assert_array_equal(out, vals)


class TestForBp:
    """FOR (frame-of-reference, byte-aligned residuals) — tokenc/codecs/for_bp.py.

    The no-delta counterpart of DELTA_BINARY_PACKED's per-miniblock FOR
    (reference: /root/reference/encoding/encodingwrite.go:287-401 applies
    min-subtraction to deltas; here it applies to values directly)."""

    def test_golden_layout(self):
        # values [100, 103, 101]: ref=100, span=3 → width 1 byte,
        # header = [0x01][zigzag(100)=200 → varint 0xC8 0x01], residuals 0,3,1
        blob = for_bp.encode(np.array([100, 103, 101], np.int32))
        assert blob == bytes([0x01, 0xC8, 0x01, 0, 3, 1])

    def test_width_selection(self):
        for span, w in [(0, 1), (255, 1), (256, 2), (2**16, 3), (2**24, 4),
                        (2**32, 5), (2**40, 6), (2**48, 7), (2**56, 8)]:
            blob = for_bp.encode(np.array([5, 5 + span], np.int64))
            assert blob[0] == w, (span, blob[0], w)
            vals, _ = for_bp.decode(np.frombuffer(blob, np.uint8), 2)
            assert vals.tolist() == [5, 5 + span]

    def test_negative_reference(self):
        xs = np.array([-1000, -998, -500], np.int64)
        vals, _ = for_bp.decode(np.frombuffer(for_bp.encode(xs), np.uint8), 3)
        assert np.array_equal(vals, xs)

    def test_full_int64_span(self):
        xs = np.array([-2**63, 2**63 - 1, 0, -1], np.int64)
        vals, _ = for_bp.decode(np.frombuffer(for_bp.encode(xs), np.uint8), 4)
        assert np.array_equal(vals, xs)

    def test_empty_and_single(self):
        assert for_bp.decode(np.frombuffer(for_bp.encode(
            np.array([], np.int32)), np.uint8), 0)[0].size == 0
        vals, _ = for_bp.decode(np.frombuffer(for_bp.encode(
            np.array([-7], np.int32)), np.uint8), 1)
        assert vals.tolist() == [-7]

    @given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=0, max_size=700))
    @settings(deadline=None, max_examples=60)
    def test_property_roundtrip(self, xs):
        arr = np.array(xs, np.int64)
        vals, _ = for_bp.decode(np.frombuffer(for_bp.encode(arr), np.uint8),
                                arr.size)
        assert np.array_equal(vals, arr)

    def test_vocab_token_size(self):
        # vocab-bounded token ids must land at 2 bytes/value + 2-byte header
        rng = np.random.default_rng(3)
        toks = rng.integers(0, 50257, 10000).astype(np.int32)
        blob = for_bp.encode(toks)
        assert len(blob) == 2 * toks.size + 2

    def test_selector_picks_for_on_random_vocab_ids(self):
        # random ids in a vocab: no run structure (RLE out), no local
        # correlation (delta spans 2× the range), high cardinality relative
        # to the 8K sample (dict marginal) → FOR is the right pick
        rng = np.random.default_rng(11)
        toks = (rng.zipf(1.2, size=300_000) % 50257).astype(np.int32)
        pick = selector.choose_numeric(toks, codecs.PHYS_INT32,
                                       container="zstd")
        assert pick == codecs.FOR
