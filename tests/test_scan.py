"""Compound-predicate scan (engine.scan): conjunction decomposed into
row-group prunes per conjunct + page-level skip on the driving column +
exact residual filter — the combined ColumnIndex+OffsetIndex pruning of
the reference (writer/writer.go:418-481, reader/columnbuffer.go:158-230)
behind one filter surface."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def scan_enc(spark):
    """Range-clustered 3-column table: k sorted (pruning bites), price
    correlated, tag low-cardinality string with distinct + bloom stats."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    n = 40_000
    df = (spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).cast("double").alias("price"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("tag"))
        .repartitionByRange(8, "k").sortWithinPartitions("k"))
    schema = to_arrow_schema(df.schema)
    specs = specs_from_arrow_schema(schema, bloom_columns=["tag"],
                                    distinct_columns=["tag"])
    enc = encode_df(df, specs, target_raw_bytes=64 << 10).cache()
    enc.count()
    return enc, specs, schema


def _expected(filters_fn, n=40_000):
    k = np.arange(n)
    price = (k % 1000).astype(float)
    tag = np.array([f"t{i % 7}" for i in range(n)])
    m = filters_fn(k, price, tag)
    return pd.DataFrame({"k": k[m], "price": price[m], "tag": tag[m]})


def _run(spark, scan_enc, filters, **kw):
    from tokenc.engine import scan

    enc, specs, schema = scan_enc
    out = scan(enc, specs, schema, filters, **kw)
    return out.orderBy("k").toPandas()


class TestCompoundScan:
    def test_two_column_conjunction(self, spark, scan_enc):
        got = _run(spark, scan_enc,
                   [("k", "between", (5000, 9000)), ("price", "<=", 300.0)])
        want = _expected(lambda k, p, t: (k >= 5000) & (k <= 9000) & (p <= 300))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))

    def test_range_eq_and_in(self, spark, scan_enc):
        got = _run(spark, scan_enc,
                   [("k", ">=", 30000), ("tag", "=", "t3")])
        want = _expected(lambda k, p, t: (k >= 30000) & (t == "t3"))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))

        got = _run(spark, scan_enc,
                   [("k", "<", 2000), ("tag", "in", ["t0", "t5"])])
        want = _expected(lambda k, p, t: (k < 2000) & np.isin(t, ["t0", "t5"]))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))

    def test_rowgroups_pruned_before_decode(self, spark, scan_enc):
        from tokenc.engine import prune

        enc, specs, schema = scan_enc
        total = enc.count()
        kept = prune(enc, specs, [("k", "between", (5000, 9000))],
                     auto_index=False).count()
        assert kept < total / 2, (kept, total)

    def test_string_range_driving_column(self, spark, scan_enc):
        got = _run(spark, scan_enc,
                   [("tag", "between", ("t2", "t4")), ("k", "<=", 100)])
        want = _expected(lambda k, p, t: (t >= "t2") & (t <= "t4") & (k <= 100))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))

    def test_empty_result(self, spark, scan_enc):
        got = _run(spark, scan_enc, [("k", ">", 10 ** 9)])
        assert got.empty

    def test_index_backed_scan_matches(self, spark, scan_enc):
        from tokenc.sorted_index import SortedKeyIndex

        enc, specs, schema = scan_enc
        idx = SortedKeyIndex.build(enc, "k")
        assert idx.clustered
        got = _run(spark, scan_enc,
                   [("k", "between", (5000, 9000)), ("price", "<=", 300.0)],
                   indexes={"k": idx})
        want = _expected(lambda k, p, t: (k >= 5000) & (k <= 9000) & (p <= 300))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
        # the index probe touched O(log n + matches) bounds, not all groups
        assert idx.last_probes < len(idx.rg_ids)

    def test_strict_ops_residual(self, spark, scan_enc):
        got = _run(spark, scan_enc, [("k", ">", 39998), ("price", "<", 1000.0)])
        want = _expected(lambda k, p, t: (k > 39998) & (p < 1000))
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


class TestScanEdges:
    def test_no_filters_decodes_everything(self, spark, scan_enc):
        from tokenc.engine import scan

        enc, specs, schema = scan_enc
        assert scan(enc, specs, schema, []).count() == 40_000

    def test_unknown_column_raises(self, spark, scan_enc):
        from tokenc.engine import scan

        enc, specs, schema = scan_enc
        with pytest.raises(KeyError):
            scan(enc, specs, schema, [("nope", ">=", 1)])

    def test_nullable_column_falls_back_exactly(self, spark):
        # nulls disable the page directory → full decode + residual; the
        # result must still be exact
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, scan
        from tokenc.schema import specs_from_arrow_schema

        df = spark.range(5000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 7 == 0, None)
             .otherwise(F.col("id") % 100).alias("v"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(df, specs, target_raw_bytes=16 << 10)
        got = (scan(enc, specs, schema, [("v", "between", (10, 20))])
               .orderBy("k").toPandas())
        assert got["v"].between(10, 20).all()
        assert len(got) == sum(1 for i in range(5000)
                               if i % 7 != 0 and 10 <= i % 100 <= 20)

    def test_bytes_eq_probe_never_false_prunes(self, spark, scan_enc):
        # regression: a bytes '=' literal was str()-coerced ("b'R'") in
        # the distinct-set prune and silently dropped every row group
        got = _run(spark, scan_enc, [("tag", "=", b"t3"), ("k", "<", 700)])
        want = _expected(lambda k, p, t: (t == "t3") & (k < 700))
        assert got["k"].tolist() == want["k"].tolist()

    def test_date_bounds_fall_back_exactly(self, spark):
        # regression: a date literal as the driving bound reached the
        # numeric page comparison and raised TypeError in the executor;
        # and a date '=' crashed prune_rowgroups_eq's float() widening.
        # Both must fall back to decode + residual, exactly.
        import datetime

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, scan
        from tokenc.schema import specs_from_arrow_schema

        df = spark.range(1000).select(
            F.col("id").alias("k"),
            F.date_add(F.lit("2020-01-01"), F.col("id").cast("int"))
            .alias("d"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["d"])
        enc = encode_df(df, specs, target_raw_bytes=8 << 10)
        lo, hi = datetime.date(2020, 2, 1), datetime.date(2020, 2, 10)
        got = (scan(enc, specs, schema, [("d", "between", (lo, hi))])
               .orderBy("k").toPandas())
        assert len(got) == 10 and got["d"].min() == lo
        eq = (scan(enc, specs, schema, [("d", "=", lo)])
              .orderBy("k").toPandas())
        assert len(eq) == 1

    def test_random_conjunctions_property(self, spark, scan_enc):
        import random

        from tokenc.engine import scan

        enc, specs, schema = scan_enc
        rng = random.Random(13)
        for _ in range(6):
            lo = rng.randrange(0, 39_000)
            hi = lo + rng.randrange(1, 4000)
            pl = float(rng.randrange(0, 1000))
            tag = f"t{rng.randrange(7)}"
            got = (scan(enc, specs, schema,
                        [("k", "between", (lo, hi)), ("price", "<=", pl),
                         ("tag", "=", tag)]).orderBy("k").toPandas())
            want = _expected(lambda k, p, t: (k >= lo) & (k <= hi)
                             & (p <= pl) & (t == tag))
            assert got["k"].tolist() == want["k"].tolist()
            assert got["price"].tolist() == want["price"].tolist()


def _rows(df):
    return df.orderBy("k", "tag").toPandas()


class TestOnePredicatePath:
    def test_get_equals_scan_in_and_eq(self, spark, scan_enc):
        """get(k, vals), scan([(k, 'in', vals)]) and scan([(k, '=', v)])
        are one predicate path: identical rows, on a numeric key and on
        the bloom + distinct string column."""
        from tokenc.engine import get, scan

        enc, specs, schema = scan_enc
        vals = [3, 4444, 12001, 39999, -5]
        got = _rows(get(enc, specs, schema, "k", vals))
        assert got["k"].tolist() == [3, 4444, 12001, 39999]
        pd.testing.assert_frame_equal(
            got, _rows(scan(enc, specs, schema, [("k", "in", vals)])))
        for col, v in [("k", 4444), ("k", -5), ("tag", "t3")]:
            one = _rows(get(enc, specs, schema, col, [v]))
            pd.testing.assert_frame_equal(
                one, _rows(scan(enc, specs, schema, [(col, "in", [v])])))
            pd.testing.assert_frame_equal(
                one, _rows(scan(enc, specs, schema, [(col, "=", v)])))
        assert len(one) == sum(1 for i in range(40_000) if i % 7 == 3)

    def test_point_plans_have_no_python_filter_stage(self, spark, scan_enc):
        """Blooms are checked inside the one decode task: neither get()
        nor an '=' scan adds a pandas-UDF filter node to the plan."""
        import io
        from contextlib import redirect_stdout

        from tokenc.engine import get, scan

        enc, specs, schema = scan_enc
        for df in (get(enc, specs, schema, "tag", ["t3"]),
                   scan(enc, specs, schema, [("tag", "=", "t3")])):
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(True)
            plan = buf.getvalue()
            assert "ArrowEvalPython" not in plan
            assert "BatchEvalPython" not in plan

    def test_one_group_index_probe_coalesces(self, spark, scan_enc,
                                             monkeypatch):
        """An index-answered prune bounds the surviving groups at k, so on
        the task path (forced here: no blob budget for the driver path)
        the decode runs in k tasks (Python runs even on empty partitions):
        a one-group probe plans Coalesce 1 and returns the same rows as
        the stats-only prune."""
        import io
        from contextlib import redirect_stdout

        import tokenc.engine as eng
        from tokenc.engine import scan

        enc, specs, schema = scan_enc
        flt = [("k", "between", (20_100, 20_120))]
        monkeypatch.setattr(eng, "DECODE_BATCH_BYTES", -1)
        df = scan(enc, specs, schema, flt)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        assert "Coalesce 1" in buf.getvalue()
        got = _rows(df)
        assert got["k"].tolist() == list(range(20_100, 20_121))
        pd.testing.assert_frame_equal(
            got, _rows(scan(enc, specs, schema, flt, auto_index=False)))

    def test_match_op_prunes_and_is_exact(self, spark, scan_enc):
        from pyspark.sql import functions as F

        from tokenc.engine import prune, scan

        enc, specs, schema = scan_enc
        five = F.lit("t5")  # a Column: the predicate must never ship
        want = _expected(lambda k, p, t: (t == "t5") & (k < 9000))
        for pred in (lambda x: x.like("t5%"), lambda x: x == five):
            flt = [("tag", "match", pred), ("k", "<", 9000)]
            got = _rows(scan(enc, specs, schema, flt))
            assert got["k"].tolist() == want["k"].tolist()
            assert prune(enc, specs, flt).count() < enc.count()

    def test_prune_never_drops_a_matching_group(self, spark, scan_enc):
        """Property: over random conjunctions of between/=/in/match, with
        and without the auto index, every row group that holds a matching
        row survives prune()."""
        import random

        import tokenc.engine as eng

        enc, specs, schema = scan_enc
        tbl = enc.toArrow()
        views = [eng._blob_views(tbl, f"{s.name}_blob") for s in specs]
        groups = {rid: eng._decode_groups(views, specs, schema, [i]).to_pandas()
                  for i, rid in enumerate(tbl["rg_id"].to_pylist())}
        rng = random.Random(29)

        def conjunct():
            col = rng.choice(["k", "price", "tag"])
            top = {"k": 40_000, "price": 1000, "tag": 7}[col]

            def lit(x):
                return f"t{x % 7}" if col == "tag" else (
                    float(x) if col == "price" else x)
            op = rng.choice(["between", "=", "in", "match"])
            if op == "between":
                a = rng.randrange(top)
                b = a + rng.randrange(1 + top // 10)
                lo, hi = sorted((lit(a), lit(b)))
                return (col, op, (lo, hi)), lambda s: s.between(lo, hi)
            if op == "=":
                v = lit(rng.randrange(-2, top + 2))
                return (col, op, v), lambda s: s == v
            vs = [lit(rng.randrange(-2, top + 2))
                  for _ in range(rng.randrange(1, 4))]
            if op == "in":
                return (col, op, vs), lambda s: s.isin(vs)
            return (col, op, lambda c: c.isin(*vs)), lambda s: s.isin(vs)

        pruned_some = False
        for trial in range(30):
            conj = [conjunct() for _ in range(rng.randrange(1, 4))]
            flt = [f for f, _ in conj]
            kept = set(eng.prune(enc, specs, flt, auto_index=trial % 2 == 0)
                       .select("rg_id").toPandas()["rg_id"])
            for rid, g in groups.items():
                m = np.ones(len(g), bool)
                for (col, _, _), match in conj:
                    m &= match(g[col]).to_numpy()
                assert not m.any() or rid in kept, (flt, rid)
            pruned_some |= len(kept) < len(groups)
        assert pruned_some


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


@pytest.fixture(scope="module")
def paths_enc(spark):
    """Cached 8-group table with small pages: int64 key k, string key s
    (bloom), int32 nk with null keys, double f with NaNs, list column."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    df = (spark.range(20_000).select(
        F.col("id").alias("k"),
        F.format_string("s%06d", "id").alias("s"),
        F.when(F.col("id") % 5 == 0, None)
         .otherwise(F.col("id")).cast("int").alias("nk"),
        F.when(F.col("id") % 97 == 0, F.lit(float("nan")))
         .otherwise(F.col("id") / 10).alias("f"),
        F.array((F.col("id") % 3).cast("int"),
                (F.col("id") % 5).cast("int")).alias("toks"))
        .repartitionByRange(8, "k").sortWithinPartitions("k"))
    schema = to_arrow_schema(df.schema)
    specs = specs_from_arrow_schema(schema, bloom_columns=["s"])
    enc = encode_df(df, specs, target_raw_bytes=1 << 20,
                    page_bytes=2 << 10).cache()
    assert enc.count() == 8
    return enc, specs, schema


def _lookup_rows(df):
    return (df.orderBy("k").toPandas()
            .assign(toks=lambda d: d["toks"].map(list)))


class TestLookupPaths:
    """An index-bounded scan decodes in the driver when the kept blobs fit
    DECODE_BATCH_BYTES, else in a mapInArrow task; both run _lookup_batch
    and return the same rows as a scan without the index."""

    CASES = {
        "int_range": [("k", "between", (1234, 1500))],
        "int_eq": [("k", "=", 777)],
        "str_range": [("s", "between", ("s000100", "s000150"))],
        "str_in_absent": [("s", "in", ["s000010", "s019999", "nope",
                                       "s000010x", "s0"])],
        "match": [("s", "match", lambda x: x.like("s0001%")),
                  ("k", "<", 5000)],
        "empty": [("k", ">", 10 ** 9)],
        "null_keys_range": [("nk", "between", (100, 300))],
        "null_keys_in": [("nk", "in", [5, 10, 11, 12])],
        "strict_bounds": [("k", ">", 3000), ("k", "<", 3010)],
        "float_nan": [("f", ">=", 1990.0), ("k", ">=", 19_000)],
    }

    @pytest.mark.parametrize("case", sorted(CASES))
    def test_driver_and_task_paths_agree(self, spark, paths_enc, case,
                                         monkeypatch):
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        flt = self.CASES[case]
        rows = _lookup_rows
        drv = eng.scan(enc, specs, schema, flt)
        plan = _plan(drv)
        assert "LocalTableScan" in plan and "MapInArrow" not in plan, plan
        with monkeypatch.context() as m:
            m.setattr(eng, "DECODE_BATCH_BYTES", -1)
            task = eng.scan(enc, specs, schema, flt)
        assert "MapInArrow" in _plan(task)
        got, want = rows(drv), rows(eng.scan(enc, specs, schema, flt,
                                             auto_index=False))
        pd.testing.assert_frame_equal(got, rows(task))
        pd.testing.assert_frame_equal(got, want)
        if case == "float_nan":
            # NaN sorts above every double in Spark, so it passes f >= x
            assert got["f"].isna().sum() == sum(
                1 for i in range(19_000, 20_000) if i % 97 == 0)
        if case == "null_keys_in":
            assert got["k"].tolist() == [11, 12]

    def test_key_prefilter_types(self, paths_enc):
        """The Arrow pre-filter runs only where its answer equals Spark's:
        int32/int64 with int literals, strings with str/bytes literals."""
        from tokenc.engine import _key_prefilter

        _, specs, _ = paths_enc
        by = {s.name: s for s in specs}
        assert _key_prefilter(by["k"], "range", [1, 5]) is not None
        assert _key_prefilter(by["nk"], "in", [5]) is not None
        assert _key_prefilter(by["s"], "in", ["a", b"b"]) is not None
        assert _key_prefilter(by["f"], "range", [1990.0, None]) is None
        assert _key_prefilter(by["k"], "range", [1.5, None]) is None
        assert _key_prefilter(by["k"], "in", [2 ** 70]) is None
        assert _key_prefilter(by["s"], "in", ["a", 1]) is None
        assert _key_prefilter(by["toks"], "in", [1]) is None

    def test_key_first_hit_runs(self, paths_enc):
        """Late materialization: the key column decodes over its page runs,
        then the other columns over the hit rows alone."""
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        tbl = enc.toArrow()
        views = eng._blob_views(tbl, "k_blob")
        i = next(i for i, v in enumerate(views)
                 if 5000 in eng.decode_chunk(v).values)
        pred = eng._key_prefilter(specs[0], "in", [5000, 5002, 5003])
        key, runs = eng._key_first(views[i], specs[0], None,
                                   lambda a: pred(a, [5000, 5002, 5003]))
        assert key.to_pylist() == [5000, 5002, 5003]
        lo = int(eng.decode_chunk(views[i]).values[0])
        assert runs == [(5000 - lo, 5001 - lo), (5002 - lo, 5004 - lo)]
        key, runs = eng._key_first(views[i], specs[0], None,
                                   lambda a: pred(a, [-1]))
        assert key is None and runs == []

    def test_perfbench_shape_plans_local(self, spark):
        """An 8-group table shaped like the benchmark's (sorted string
        doc ids, token lists): an 8-key get with 3 absent keys and a 0.1%
        range scan plan as a LocalTableScan, with no MapInArrow."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, get, scan, sorted_index_for
        from tokenc.schema import specs_from_arrow_schema

        n = 16_000
        df = (spark.range(n).select(
            F.format_string("doc%09d", F.col("id") * 2).alias("doc_id"),
            F.sequence(F.lit(0), (F.col("id") % 40).cast("int"))
             .alias("tokens"),
            ((F.col("id") % 40) + 1).cast("int").alias("n_tok"),
            F.concat(F.lit("src"), (F.col("id") % 5).cast("string"))
             .alias("source"))
            .repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["doc_id"])
        enc = encode_df(df, specs, target_raw_bytes=64 << 20).cache()
        assert enc.count() == 8
        index = sorted_index_for(enc, "doc_id")
        present = [2 * i for i in (3, 2500, 7001, 9999, 15_998)]
        absent = [2 * i + 1 for i in (10, 4000, 12_345)]
        keys = [f"doc{k:09d}" for k in present + absent]
        g = get(enc, specs, schema, "doc_id", keys, index=index)
        lo, w = 8000, n // 1000
        s = scan(enc, specs, schema,
                 [("doc_id", "between", (f"doc{2 * lo:09d}",
                                         f"doc{2 * (lo + w - 1):09d}"))],
                 indexes={"doc_id": index})
        for df_, want in ((g, len(present)), (s, w)):
            plan = _plan(df_)
            assert "LocalTableScan" in plan and "MapInArrow" not in plan
            assert df_.count() == want
        assert sorted(g.toPandas()["doc_id"]) == sorted(
            f"doc{k:09d}" for k in present)


class TestGroupCache:
    """The driver path keeps the row groups it fetched from a persisted
    frame (engine._group_cache): a later lookup takes the groups it holds
    from there and fetches only the rest."""

    @pytest.mark.parametrize("case", sorted(TestLookupPaths.CASES))
    def test_cached_rerun_is_exact(self, spark, paths_enc, case,
                                   monkeypatch):
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        flt = TestLookupPaths.CASES[case]
        eng._group_cache.clear(enc)
        first = _lookup_rows(eng.scan(enc, specs, schema, flt))
        if case != "empty":
            assert eng._group_cache.held(enc)

        def no_fetch(*a, **k):
            raise AssertionError("a cached lookup fetched blobs")

        with monkeypatch.context() as m:
            m.setattr(type(enc), "toArrow", no_fetch)
            again = eng.scan(enc, specs, schema, flt)
        want = _lookup_rows(eng.scan(enc, specs, schema, flt,
                                     auto_index=False))
        pd.testing.assert_frame_equal(_lookup_rows(again), first)
        pd.testing.assert_frame_equal(first, want)

    def test_repeat_get_submits_no_job(self, spark, paths_enc):
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        sc = spark.sparkContext
        index = eng.sorted_index_for(enc, "s")
        keys = ["s000010", "s007777", "s015000", "nope"]
        eng._group_cache.clear(enc)

        def jobs(group):
            sc.setJobGroup(group, group)
            try:
                df = eng.get(enc, specs, schema, "s", keys, index=index)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return df, len(sc.statusTracker().getJobIdsForGroup(group))

        first, n_first = jobs("cache-miss")
        again, n_again = jobs("cache-hit")
        assert n_first >= 1 and n_again == 0, (n_first, n_again)
        assert sorted(_lookup_rows(again)["s"]) == keys[:3]
        pd.testing.assert_frame_equal(_lookup_rows(again),
                                      _lookup_rows(first))

    def test_budget_evicts_and_stays_exact(self, spark, paths_enc,
                                           monkeypatch):
        """With room for about one group, alternating one-group lookups
        evict each other and return exact rows."""
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        index = eng.sorted_index_for(enc, "k")
        # the three largest groups: room for one, not for two
        big = sorted(range(len(index.rg_ids)),
                     key=lambda j: index._sizes[index.rg_ids[j]])[-3:]
        sizes = [index._sizes[index.rg_ids[j]] for j in big]
        budget = max(sizes) + 1024
        assert 2 * min(sizes) > budget
        monkeypatch.setattr(eng, "DECODE_BATCH_BYTES", budget)
        eng._group_cache.clear(enc)
        firsts = [index.mins[j] + 7 for j in big]
        for key in firsts + firsts[::-1]:
            flt = [("k", "in", [key, key + 1])]
            got = _lookup_rows(eng.scan(enc, specs, schema, flt))
            assert got["k"].tolist() == [key, key + 1]
            assert got["s"].tolist() == [f"s{key:06d}", f"s{key + 1:06d}"]
            assert eng._group_cache.nbytes <= budget
            assert len(eng._group_cache.held(enc)) == 1
        pd.testing.assert_frame_equal(
            got, _lookup_rows(eng.scan(enc, specs, schema, flt,
                                       auto_index=False)))

    def test_fingerprint_rebuild_clears_frame(self, spark, paths_enc):
        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        assert eng.scan(enc, specs, schema,
                        [("k", "between", (100, 200))]).count() == 101
        assert eng._group_cache.held(enc)
        # a re-materialized handle: the memo's fingerprint no longer
        # matches what the aggregate sees
        tok, state, idx = eng._sorted_indexes[enc]["k"]
        eng._sorted_indexes[enc]["k"] = ((-1, "gone"), state, idx)
        eng.sorted_index_for(enc, "k")
        assert not eng._group_cache.held(enc)

    def test_unpersisted_frame_caches_nothing(self, spark, paths_enc):
        from pyspark.sql import functions as F

        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        index = eng.sorted_index_for(enc, "k")
        view = enc.where(F.col("n_rows") > 0)
        assert not eng._is_persisted(view)
        flt = [("k", "between", (4000, 4100))]
        got = eng.scan(view, specs, schema, flt, indexes={"k": index})
        assert "LocalTableScan" in _plan(got)
        assert got.count() == 101
        assert not eng._group_cache.held(view)

    def test_concurrent_lookups_exact(self, spark, paths_enc, monkeypatch):
        """4 driver threads running scans and gets, with room for about
        three groups, so they race on misses and on evictions."""
        from concurrent.futures import ThreadPoolExecutor

        import tokenc.engine as eng

        enc, specs, schema = paths_enc
        index = eng.sorted_index_for(enc, "k")
        queries = [[("k", "between", (lo, lo + 60))]
                   for lo in (50, 2600, 5200, 7800, 10_400, 13_000)]
        queries += [[("k", "in", [v, v + 3000, 19_999])]
                    for v in (11, 4444, 9001)]
        queries += [[("s", "in", ["s000123", "s012345", "s_absent"])]]
        want = [_lookup_rows(eng.scan(enc, specs, schema, q,
                                      auto_index=False)) for q in queries]
        monkeypatch.setattr(eng, "DECODE_BATCH_BYTES",
                            max(index._sizes.values()) * 3)
        eng._group_cache.clear(enc)

        def run(t):
            out = []
            for j in range(len(queries)):
                q = (t * 3 + j) % len(queries)
                df = eng.scan(enc, specs, schema, queries[q],
                              indexes={"k": index})
                out.append((q, _lookup_rows(df)))
            return out

        with ThreadPoolExecutor(4) as pool:
            results = [r for rs in pool.map(run, range(4), timeout=600)
                       for r in rs]
        assert len(results) == 4 * len(queries)
        for q, got in results:
            pd.testing.assert_frame_equal(got, want[q])
        assert eng._group_cache.nbytes <= eng.DECODE_BATCH_BYTES

    def test_cache_lock_and_frame_lifetime(self, monkeypatch):
        """8 threads storing and reading one cache under a short switch
        interval lose no byte count and never pass the budget; a frame's
        entries go when its handle is collected."""
        import gc
        import sys
        import threading

        import pyarrow as pa

        import tokenc.engine as eng

        class Frame:  # stands in for a DataFrame handle
            pass

        monkeypatch.setattr(eng, "DECODE_BATCH_BYTES", 40_000)
        cache, frames = eng._GroupCache(), [Frame() for _ in range(3)]

        def group(rid, n):
            return pa.table({"rg_id": [rid], "x_blob": [b"\xab" * n]})

        def work(t):
            for i in range(300):
                f = frames[(t + i) % 3]
                rid = f"g{(t * 7 + i) % 11}"
                hits, missing = cache.get(f, [rid], ["x_blob"])
                if missing:
                    cache.put(f, group(rid, 1000 + 37 * (i % 50)))
                else:
                    assert hits[rid]["x_blob"][0].as_py()[:1] == b"\xab"

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(t,))
                       for t in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert cache.nbytes == sum(eng._entry_bytes(e)
                                   for e in cache._lru.values())
        assert 0 < cache.nbytes <= 40_000
        gone = frames.pop()
        assert cache.held(gone)
        n_gone = len(cache.held(gone))
        n_all = len(cache._lru)
        del gone
        gc.collect()
        assert len(cache._lru) == n_all - n_gone
        assert cache.nbytes == sum(eng._entry_bytes(e)
                                   for e in cache._lru.values())
