"""Sub-chunk pages: paged encode/decode parity, row-range decode that
skips pages, per-page min/max directory."""

from __future__ import annotations

import numpy as np
import pytest

from tokenc import codecs
from tokenc.chunk import (F_PAGED, ChunkData, chunk_page_stats, decode_chunk,
                          decode_chunk_rows_multi, encode_chunk,
                          page_filter_row_runs)

N = 20_000
PAGE = 32 << 10  # force many pages


def _mk_numeric(codec, phys, with_nulls=False):
    rng = np.random.default_rng(9)
    if phys == codecs.PHYS_INT32:
        vals = np.cumsum(rng.integers(0, 7, N)).astype(np.int32)
    elif phys == codecs.PHYS_INT64:
        vals = (np.arange(N, dtype=np.int64) * 977) % 5000
    else:
        vals = rng.normal(size=N).astype(
            np.float32 if phys == codecs.PHYS_FLOAT else np.float64)
    validity = None
    if with_nulls:
        validity = rng.random(N) > 0.1
        vals = vals[validity]
    return dict(phys=phys, codec=codec, n_rows=N, values=vals,
                validity=validity)


def _assert_cd_equal(a, b):
    assert a.n_rows == b.n_rows
    if a.values is not None or b.values is not None:
        np.testing.assert_array_equal(np.asarray(a.values), np.asarray(b.values))
    if a.ba_data is not None or b.ba_data is not None:
        la = np.diff(a.ba_offsets)
        lb = np.diff(b.ba_offsets)
        np.testing.assert_array_equal(la, lb)
        base_a, base_b = int(a.ba_offsets[0]), int(b.ba_offsets[0])
        np.testing.assert_array_equal(
            np.asarray(a.ba_data)[base_a:base_a + int(la.sum())],
            np.asarray(b.ba_data)[base_b:base_b + int(lb.sum())])
    av = np.ones(a.n_rows, bool) if a.validity is None else a.validity
    bv = np.ones(b.n_rows, bool) if b.validity is None else b.validity
    np.testing.assert_array_equal(av, bv)
    if a.list_lengths is not None or b.list_lengths is not None:
        np.testing.assert_array_equal(a.list_lengths, b.list_lengths)


class TestPagedParity:
    @pytest.mark.parametrize("codec,phys", [
        (codecs.PLAIN, codecs.PHYS_INT32),
        (codecs.DELTA_BP, codecs.PHYS_INT32),
        (codecs.DICT, codecs.PHYS_INT64),
        (codecs.RLE, codecs.PHYS_INT64),
        (codecs.BSS, codecs.PHYS_DOUBLE),
        (codecs.PLAIN, codecs.PHYS_FLOAT),
    ])
    def test_numeric_paged_equals_unpaged(self, codec, phys):
        kw = _mk_numeric(codec, phys)
        flat, _ = encode_chunk(**kw)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        assert paged[7] & F_PAGED and not (flat[7] & F_PAGED)
        _assert_cd_equal(decode_chunk(flat), decode_chunk(paged))

    def test_numeric_with_nulls(self):
        kw = _mk_numeric(codecs.DELTA_BP, codecs.PHYS_INT32, with_nulls=True)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        _assert_cd_equal(decode_chunk(paged),
                         decode_chunk(encode_chunk(**kw)[0]))

    def test_list_column_paged(self):
        rng = np.random.default_rng(5)
        lens = rng.integers(0, 40, N).astype(np.int64)
        validity = rng.random(N) > 0.05
        lens_valid = lens[validity]
        vals = rng.integers(0, 50_000, int(lens_valid.sum())).astype(np.int32)
        kw = dict(phys=codecs.PHYS_INT32, codec=codecs.DELTA_BP, n_rows=N,
                  values=vals, validity=validity, list_lengths=lens_valid)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        assert paged[7] & F_PAGED
        _assert_cd_equal(decode_chunk(paged), decode_chunk(encode_chunk(**kw)[0]))

    def test_byte_array_paged(self):
        words = [f"value-{i % 997:05d}-{i}" for i in range(N)]
        data = np.frombuffer("".join(words).encode(), np.uint8)
        offs = np.zeros(N + 1, np.int64)
        offs[1:] = np.cumsum([len(w) for w in words])
        for codec in (codecs.PLAIN, codecs.DICT, codecs.DLBA, codecs.DBA,
                      codecs.FSST):
            kw = dict(phys=codecs.PHYS_BYTE_ARRAY, codec=codec, n_rows=N,
                      ba_data=data, ba_offsets=offs)
            paged, _ = encode_chunk(**kw, page_bytes=PAGE)
            _assert_cd_equal(decode_chunk(paged),
                             decode_chunk(encode_chunk(**kw)[0]))


class TestRowRangeDecode:
    def test_range_decodes_fewer_bytes(self):
        kw = _mk_numeric(codecs.PLAIN, codecs.PHYS_INT32)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        full = decode_chunk(paged)
        (cd,), decoded = decode_chunk_rows_multi(paged, [(9_750, 10_250)])
        assert cd.n_rows == 500
        np.testing.assert_array_equal(
            np.asarray(cd.values), np.asarray(full.values)[9_750:10_250])
        # a 500-row range out of 20k must touch only the overlapping pages
        st = chunk_page_stats(paged)
        assert decoded <= 2 * max(st["byte_len"])  # ≤ 2 pages touched
        assert decoded < len(paged) / 2
        # unpaged chunk: full decode, exact same slice
        flat, _ = encode_chunk(**kw)
        (cd2,), dec2 = decode_chunk_rows_multi(flat, [(9_750, 10_250)])
        np.testing.assert_array_equal(np.asarray(cd2.values),
                                      np.asarray(cd.values))
        assert dec2 > decoded

    def test_range_with_nulls_and_lists(self):
        rng = np.random.default_rng(6)
        lens = rng.integers(0, 30, N).astype(np.int64)
        validity = rng.random(N) > 0.07
        lens_valid = lens[validity]
        vals = np.arange(int(lens_valid.sum()), dtype=np.int32)
        kw = dict(phys=codecs.PHYS_INT32, codec=codecs.PLAIN, n_rows=N,
                  values=vals, validity=validity, list_lengths=lens_valid)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        lo, hi = 4_321, 5_000
        (cd,), _ = decode_chunk_rows_multi(paged, [(lo, hi)])
        # reconstruct expected slice from the full decode
        full = decode_chunk(paged)
        per_row = np.zeros(N, np.int64)
        per_row[validity] = lens_valid
        cum = np.concatenate([[0], np.cumsum(per_row)])
        np.testing.assert_array_equal(
            np.asarray(cd.values),
            np.asarray(full.values)[cum[lo]:cum[hi]])
        exp_val = validity[lo:hi]
        got_val = np.ones(hi - lo, bool) if cd.validity is None else cd.validity
        np.testing.assert_array_equal(got_val, exp_val)
        np.testing.assert_array_equal(cd.list_lengths, per_row[lo:hi][exp_val])

    def test_byte_array_range(self):
        words = [f"w{i:06d}" for i in range(N)]
        data = np.frombuffer("".join(words).encode(), np.uint8)
        offs = np.zeros(N + 1, np.int64)
        offs[1:] = np.cumsum([len(w) for w in words])
        paged, _ = encode_chunk(phys=codecs.PHYS_BYTE_ARRAY, codec=codecs.PLAIN,
                                n_rows=N, ba_data=data, ba_offsets=offs,
                                page_bytes=PAGE)
        (cd,), decoded = decode_chunk_rows_multi(paged, [(15_000, 15_100)])
        got = [bytes(np.asarray(cd.ba_data)[cd.ba_offsets[i]:cd.ba_offsets[i + 1]]).decode()
               for i in range(100)]
        assert got == words[15_000:15_100]
        st = chunk_page_stats(paged)
        assert decoded <= 2 * max(st["byte_len"])
        assert decoded < len(paged) / 2


class TestRowRangeProperty:
    from hypothesis import given, settings, strategies as st

    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_any_range_matches_full_slice(self, data):
        """Property: for random row counts, null patterns, list lengths,
        page sizes and ranges, decode_chunk_rows_multi over one range
        [(lo, hi)] equals the
        corresponding slice of the full decode."""
        st = self.st
        n = data.draw(st.integers(10, 3000))
        null_p = data.draw(st.sampled_from([0.0, 0.1, 0.5]))
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        validity = None
        if null_p:
            validity = rng.random(n) > null_p
            if validity.all():
                validity = None
        n_valid = n if validity is None else int(validity.sum())
        is_list = data.draw(st.booleans())
        if is_list:
            lens = rng.integers(0, 9, n_valid).astype(np.int64)
            vals = rng.integers(-1000, 1000, int(lens.sum())).astype(np.int32)
            kw = dict(phys=codecs.PHYS_INT32, codec=codecs.PLAIN, n_rows=n,
                      values=vals, validity=validity, list_lengths=lens)
        else:
            vals = rng.integers(-1000, 1000, n_valid).astype(np.int32)
            kw = dict(phys=codecs.PHYS_INT32, codec=codecs.PLAIN, n_rows=n,
                      values=vals, validity=validity)
        page_bytes = data.draw(st.sampled_from([64, 512, 4096]))
        blob, _ = encode_chunk(**kw, page_bytes=page_bytes)
        lo = data.draw(st.integers(0, n - 1))
        hi = data.draw(st.integers(lo + 1, n))
        (cd,), _ = decode_chunk_rows_multi(blob, [(lo, hi)])
        full = decode_chunk(blob)
        per_row = np.zeros(n, np.int64)
        if is_list:
            if validity is None:
                per_row[:] = lens
            else:
                per_row[validity] = lens
        else:
            per_row[:] = 1 if validity is None else validity
        cum = np.concatenate([[0], np.cumsum(per_row)])
        np.testing.assert_array_equal(
            np.asarray(cd.values), np.asarray(full.values)[cum[lo]:cum[hi]])
        exp_v = (np.ones(hi - lo, bool) if validity is None
                 else validity[lo:hi])
        got_v = np.ones(cd.n_rows, bool) if cd.validity is None else cd.validity
        np.testing.assert_array_equal(got_v, exp_v)
        if is_list:
            np.testing.assert_array_equal(cd.list_lengths,
                                          per_row[lo:hi][exp_v])

    @given(st.data())
    @settings(max_examples=25, deadline=None)
    def test_multi_ranges_match_singles(self, data):
        """Property: decode_chunk_rows_multi over random disjoint ranges
        equals one call per range (same parse, done once)."""
        st = self.st
        n = data.draw(st.integers(10, 2000))
        rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
        vals = rng.integers(-1000, 1000, n).astype(np.int32)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT32, codec=codecs.PLAIN,
                               n_rows=n, values=vals,
                               page_bytes=data.draw(
                                   st.sampled_from([64, 512, 4096])))
        cuts = sorted(data.draw(st.sets(st.integers(0, n), min_size=2,
                                        max_size=8)))
        ranges = [(cuts[i], cuts[i + 1]) for i in range(0, len(cuts) - 1, 2)]
        if not ranges:
            return
        cds, _ = decode_chunk_rows_multi(blob, ranges)
        for (lo, hi), cd in zip(ranges, cds):
            (single,), _ = decode_chunk_rows_multi(blob, [(lo, hi)])
            np.testing.assert_array_equal(np.asarray(cd.values),
                                          np.asarray(single.values))
            assert cd.n_rows == single.n_rows == hi - lo


class TestPageStats:
    def test_page_minmax_exact(self):
        kw = _mk_numeric(codecs.DELTA_BP, codecs.PHYS_INT32)
        paged, _ = encode_chunk(**kw, page_bytes=PAGE)
        st = chunk_page_stats(paged)
        assert st is not None and st["n_pages"] >= 3
        vals = np.asarray(decode_chunk(paged).values)
        page_rows = st["page_rows"]
        for p in range(st["n_pages"]):
            pv = vals[p * page_rows:(p + 1) * page_rows]
            assert st["min"][p] == int(pv.min())
            assert st["max"][p] == int(pv.max())
        assert sum(st["n_values"]) == vals.size

    def test_unpaged_returns_none(self):
        kw = _mk_numeric(codecs.PLAIN, codecs.PHYS_INT32)
        flat, _ = encode_chunk(**kw)
        assert chunk_page_stats(flat) is None


def _page_filtered(blob, lo, hi):
    """Candidate rows of the pages whose min/max overlap [lo, hi]
    (page_filter_row_runs), decoded with decode_chunk_rows_multi and
    joined → (ChunkData, payload bytes decoded). A chunk without a usable
    page directory decodes whole; no overlapping page decodes nothing."""
    runs = page_filter_row_runs(blob, lo, hi)
    cds, decoded = decode_chunk_rows_multi(
        blob, [(0, 1 << 62)] if runs is None else runs or [(0, 0)])
    if cds[0].values is not None:
        return ChunkData(phys=cds[0].phys, n_rows=sum(c.n_rows for c in cds),
                         validity=None, list_lengths=None,
                         values=np.concatenate([c.values for c in cds])), decoded
    ends = np.cumsum([0] + [int(c.ba_offsets[-1]) for c in cds])
    offs = [np.zeros(1, np.int64)] + [np.asarray(c.ba_offsets[1:], np.int64) + e
                                      for c, e in zip(cds, ends)]
    return ChunkData(phys=cds[0].phys, n_rows=sum(c.n_rows for c in cds),
                     validity=None, list_lengths=None,
                     ba_data=np.concatenate([np.asarray(c.ba_data) for c in cds]),
                     ba_offsets=np.concatenate(offs)), decoded


class TestPredicatePageFilter:
    """page_filter_row_runs + decode_chunk_rows_multi: pages whose exact
    min/max miss the predicate are never decoded (ColumnIndex-driven page
    skip analog)."""

    def test_sorted_selective_predicate_skips_pages(self):
        vals = np.arange(N, dtype=np.int64)  # sorted → pages are ranges
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.DELTA_BP,
                               n_rows=N, values=vals, page_bytes=PAGE)
        full = decode_chunk(blob)
        assert full.values.size == N
        lo, hi = 5000, 5400
        cd, decoded = _page_filtered(blob, lo, hi)
        # all matching rows survive...
        got = cd.values[(cd.values >= lo) & (cd.values <= hi)]
        assert np.array_equal(np.sort(got), np.arange(lo, hi + 1))
        # ...and far fewer bytes (and rows) than a full decode were touched
        assert cd.n_rows < N // 4
        assert decoded < len(blob) // 4

    def test_unsorted_data_still_exact(self):
        rng = np.random.default_rng(3)
        vals = rng.integers(0, 100_000, N).astype(np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.PLAIN,
                               n_rows=N, values=vals, page_bytes=PAGE)
        lo, hi = 10, 99
        cd, _ = _page_filtered(blob, lo, hi)
        got = cd.values[(cd.values >= lo) & (cd.values <= hi)]
        want = vals[(vals >= lo) & (vals <= hi)]
        assert np.array_equal(np.sort(got), np.sort(want))

    def test_no_overlap_returns_empty_typed(self):
        vals = np.arange(N, dtype=np.int32)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT32, codec=codecs.PLAIN,
                               n_rows=N, values=vals, page_bytes=PAGE)
        cd, decoded = _page_filtered(blob, N + 10, N + 20)
        assert cd.values.size == 0 and cd.values.dtype == np.int32
        assert decoded == 0

    def test_unpaged_and_null_chunks_fall_back(self):
        vals = np.arange(500, dtype=np.int64)
        blob, _ = encode_chunk(phys=codecs.PHYS_INT64, codec=codecs.PLAIN,
                               n_rows=500, values=vals)  # unpaged
        cd, _ = _page_filtered(blob, 0, 10)
        assert cd.n_rows == 500  # full decode, filter reapplied by caller
        kw = _mk_numeric(codecs.PLAIN, codecs.PHYS_INT64, with_nulls=True)
        blob2, _ = encode_chunk(page_bytes=PAGE, **kw)
        cd2, _ = _page_filtered(blob2, 0, 10)
        assert cd2.n_rows == N


def _ba_chunk(strings, codec=codecs.PLAIN, page_bytes=PAGE):
    data = np.frombuffer(b"".join(strings), dtype=np.uint8)
    offs = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strings], out=offs[1:])
    return encode_chunk(phys=codecs.PHYS_BYTE_ARRAY, codec=codec,
                        n_rows=len(strings), ba_data=data, ba_offsets=offs,
                        page_bytes=page_bytes)[0]


def _ba_values(cd):
    return [cd.ba_data[cd.ba_offsets[i]:cd.ba_offsets[i + 1]].tobytes()
            for i in range(cd.n_rows)]


class TestByteArrayPageFilter:
    """Byte-array page pruning on covering 8-byte prefix bounds — the
    reference ColumnIndex stores byte-array min/max too
    (writer/writer.go:418-481); truncation only widens the range."""

    def test_sorted_keys_skip_pages(self):
        keys = [b"doc%08d" % i for i in range(N)]
        blob = _ba_chunk(keys)
        lo, hi = b"doc00005000", b"doc00005400"
        cd, decoded = _page_filtered(blob, lo, hi)
        got = [v for v in _ba_values(cd) if lo <= v <= hi]
        assert sorted(got) == [b"doc%08d" % i for i in range(5000, 5401)]
        assert cd.n_rows < N // 4
        assert decoded < len(blob) // 4

    def test_str_bounds_and_exactness_unsorted(self):
        rng = np.random.default_rng(5)
        keys = [b"k%06d" % x for x in rng.integers(0, 1_000_000, N)]
        blob = _ba_chunk(keys)
        cd, _ = _page_filtered(blob, "k000100", "k000999")
        got = [v for v in _ba_values(cd) if b"k000100" <= v <= b"k000999"]
        want = [v for v in keys if b"k000100" <= v <= b"k000999"]
        assert sorted(got) == sorted(want)

    def test_shared_long_prefix_never_false_prunes(self):
        # every value shares a >8-byte prefix → all page bounds equal →
        # truncation makes pruning a no-op, never a loss
        keys = [b"commonprefix-%05d" % i for i in range(N)]
        blob = _ba_chunk(keys)
        lo, hi = b"commonprefix-01000", b"commonprefix-01009"
        cd, decoded = _page_filtered(blob, lo, hi)
        got = [v for v in _ba_values(cd) if lo <= v <= hi]
        assert len(got) == 10
        assert decoded > 0

    def test_short_and_empty_values(self):
        keys = ([b""] * 100 + [b"a"] * 100 + [b"ab"] * 100
                + [b"zz" * 10] * 100) * 50
        blob = _ba_chunk(keys)
        cd, _ = _page_filtered(blob, b"a", b"ab")
        got = [v for v in _ba_values(cd) if b"a" <= v <= b"ab"]
        want = [v for v in keys if b"a" <= v <= b"ab"]
        assert sorted(got) == sorted(want)

    def test_short_hi_bound_equal_to_page_min(self):
        # regression: a page whose min IS a sub-8-byte hi bound. Stored
        # page min is zero-padded (b'ab\x00...'); an unpadded query hi
        # b'ab' compared below it and the page was falsely dropped —
        # silently losing every 'ab' row. Bounds now pad to the stored
        # convention (lo ljust-00, hi ljust-FF).
        keys = [b"aa"] * 400 + [b"ab"] * 400 + [b"ac"] * 400 + [b"b"] * 400
        blob = _ba_chunk(sorted(keys))
        cd, _ = _page_filtered(blob, b"aa", b"ab")
        got = [v for v in _ba_values(cd) if b"aa" <= v <= b"ab"]
        assert sorted(got) == sorted(v for v in keys if b"aa" <= v <= b"ab")
        # and the lo side: page max b'ab'+FF-pad vs zero-padded lo b'ab'
        cd2, _ = _page_filtered(blob, b"ab", None)
        got2 = [v for v in _ba_values(cd2) if v >= b"ab"]
        assert sorted(got2) == sorted(v for v in keys if v >= b"ab")

    def test_no_overlap_empty_typed(self):
        keys = [b"m%06d" % i for i in range(N)]
        blob = _ba_chunk(keys)
        cd, decoded = _page_filtered(blob, b"z", b"zz")
        assert cd.n_rows == 0 and decoded == 0
        assert cd.ba_offsets.tolist() == [0]

    def test_dict_coded_pages_prune_too(self):
        keys = [b"p%04d" % (i // 100) for i in range(N)]  # sorted, low card
        blob = _ba_chunk(keys, codec=codecs.DICT)
        cd, decoded = _page_filtered(blob, b"p0050", b"p0051")
        got = [v for v in _ba_values(cd) if b"p0050" <= v <= b"p0051"]
        assert sorted(set(got)) == [b"p0050", b"p0051"]
        assert decoded < len(blob)

    def test_page_stats_expose_prefix_bounds(self):
        from tokenc.chunk import chunk_page_stats

        keys = [b"doc%08d" % i for i in range(N)]
        st = chunk_page_stats(_ba_chunk(keys))
        assert st["n_pages"] > 4
        assert all(len(p) == 8 for p in st["min_prefix"])
        assert st["min_prefix"][0] == b"doc00000"
        assert st["max_prefix"][-1][:3] == b"doc"
