#!/usr/bin/env python
"""Regenerate BENCH/PLANS.md: `.explain("formatted")` evidence that the
engine's plans have the properties that scale — zero Exchange in the hot
paths, column pruning reaching the Parquet scans, metadata-only pruning."""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.datagen import TOKENS_ARROW_SCHEMA, tokens_from_documents
    from tokenc.engine import (decode_df, encode_df, prune, read_range,
                               scan)
    from tokenc.files import encode_files
    from tokenc.schema import specs_from_arrow_schema

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").appName("plans").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    specs = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA)

    plans: dict[str, str] = {}
    tmp = tempfile.mkdtemp(prefix="plans_")  # honours TMPDIR

    # 1. DataFrame-path encode over the documents-derived tokens table
    src = tokens_from_documents(spark, SF_DIR)
    enc = encode_df(src, specs, target_raw_bytes=1 << 20)
    plans["ENCODE (DataFrame path)"] = plan_of(enc)

    # materialize an encoded dir for the read-side plans
    out = f"{tmp}/enc"
    enc.write.mode("overwrite").parquet(out)
    enc_read = spark.read.parquet(out)

    # 2. file-granular encode (production path)
    encf = encode_files(spark, f"{SF_DIR}/documents.parquet",
                        specs_from_arrow_schema(to_arrow_schema(
                            spark.read.parquet(f"{SF_DIR}/documents.parquet")
                            .select("doc_id", "source").schema)),
                        target_raw_bytes=1 << 20)
    plans["ENCODE (file-granular path)"] = plan_of(encf)

    # 3. projected decode: only 2 of 4 columns -> container prunes blobs
    sub = [s for s in specs if s.name in ("doc_id", "n_tok")]
    sub_schema = to_arrow_schema(src.select("doc_id", "n_tok").schema)
    dec2 = decode_df(enc_read.select("doc_id_blob", "n_tok_blob"), sub, sub_schema)
    plans["DECODE (2-column projection)"] = plan_of(dec2)

    # 4. stats pruning: metadata-only predicate
    pruned = prune(enc_read, specs, [("n_tok", "between", (100, 200))]) \
        .select("rg_id", "n_rows")
    plans["STATS PRUNE (metadata only)"] = plan_of(pruned)

    # 5. read_range: manifest-count pruning + sliced decode
    rr = read_range(enc_read, specs, TOKENS_ARROW_SCHEMA, 10, 50)
    plans["READ_RANGE (SkipRows analog)"] = plan_of(rr)

    # 6. file-granular decode (headline decode path): tasks read blob
    # parquet with pyarrow; the plan carries only the FILE LIST
    from tokenc.files import decode_invariants_files

    inv = decode_invariants_files(spark, out, specs)
    plans["DECODE (file-granular invariants)"] = plan_of(inv)

    # 7. embedding near-dup: bucket-equality joins only — no cross join
    from tokenc.pipeline.simsearch import embed_neardup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plans["DEDUP_EMBED (LSH bucket joins)"] = plan_of(
        embed_neardup(emb, threshold=0.4))

    # 8. one-range scan: manifest min/max prune + page-level skip; plan
    # shows the meta-struct filter before the blob scan, no Exchange
    nt_spec = next(s for s in specs if s.name == "n_tok")
    df8 = scan(enc_read, [nt_spec],
               to_arrow_schema(src.select("n_tok").schema),
               [("n_tok", "between", (100, 200))])
    plans["RANGE SCAN (stats + page pruning)"] = plan_of(df8)

    # 9. nested shred/unshred: shred is a pure projection (no Exchange, no
    # Python); deep unshred is one mapInArrow pass
    from pyspark.sql import functions as F

    from tokenc.shred import shred_df, unshred_df

    nested = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id",
        F.expr("array(struct(cast(event_id % 5 AS int) AS n, "
               "map('a', event_type) AS tags))").alias("items"))
    flat = shred_df(nested)
    plans["SHRED (recursive nested -> leaves)"] = plan_of(flat)
    plans["UNSHRED (Arrow rebuild pass)"] = plan_of(
        unshred_df(flat, nested.schema))

    # 10. sequence packing: the only data Exchanges are the hash partition
    # of doc arrays by DETERMINISTIC range bucket and the seq_id groupBy
    # (dense uniform keys); the prefix sum is per-bucket windows + a
    # metadata-scale broadcast of bucket bases computed in the same plan,
    # never a global window; no Python stage anywhere
    from tokenc.pipeline.packing import pack_sequences

    toks = tokens_from_documents(spark, SF_DIR) \
        .withColumn("doc_id", F.col("doc_id").cast("long"))
    plans["PACK_SEQUENCES (two-phase prefix sum)"] = plan_of(
        pack_sequences(toks, 512, eos_token=50000, num_partitions=4))

    # 11. bloom point-lookup prune: filter evaluates on the meta struct's
    # bloom binary only (one probe per ROW GROUP), before any blob scan
    from tokenc.engine import prune_rowgroups_eq

    bspecs = specs_from_arrow_schema(to_arrow_schema(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars").schema), bloom_columns=["doc_id"])
    benc = encode_df(spark.read.parquet(f"{SF_DIR}/documents.parquet")
                     .select("doc_id", "n_chars"), bspecs,
                     target_raw_bytes=1 << 20)
    benc.write.mode("overwrite").parquet(f"{tmp}/bloom")
    plans["BLOOM PRUNE (point lookup, metadata only)"] = plan_of(
        prune_rowgroups_eq(spark.read.parquet(f"{tmp}/bloom"), "doc_id", 42))

    # 12. dictionary-distinct prune: a 'match' conjunct (LIKE predicate)
    # as a pure JVM expression (from_json + exists) over the meta struct —
    # no UDF, no blob column in the scan
    dspecs = specs_from_arrow_schema(to_arrow_schema(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source").schema), distinct_columns=["source"])
    denc = encode_df(spark.read.parquet(f"{SF_DIR}/documents.parquet")
                     .select("doc_id", "source"), dspecs,
                     target_raw_bytes=1 << 20)
    denc.write.mode("overwrite").parquet(f"{tmp}/distinct")
    plans["DISTINCT PRUNE (LIKE predicate, metadata only)"] = plan_of(
        prune(spark.read.parquet(f"{tmp}/distinct"), dspecs,
              [("source", "match", lambda x: x.like("c%"))])
        .select("rg_id", "n_rows"))

    # 13. compound-predicate scan: per-conjunct metadata prunes (min/max +
    # distinct) all evaluate on meta structs BEFORE the single
    # blob-decoding mapInArrow, which checks the '=' bloom per value;
    # residual filter after
    mspecs = specs_from_arrow_schema(to_arrow_schema(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars", "source").schema),
        bloom_columns=["source"], distinct_columns=["source"])
    menc = encode_df(spark.read.parquet(f"{SF_DIR}/documents.parquet")
                     .select("doc_id", "n_chars", "source"), mspecs,
                     target_raw_bytes=1 << 20)
    menc.write.mode("overwrite").parquet(f"{tmp}/multi")
    plans["COMPOUND SCAN (conjunction: 3 metadata tiers + residual)"] = \
        plan_of(scan(
            spark.read.parquet(f"{tmp}/multi"), mspecs,
            to_arrow_schema(spark.read.parquet(f"{SF_DIR}/documents.parquet")
                            .select("doc_id", "n_chars", "source").schema),
            [("doc_id", "between", (50, 250)), ("n_chars", "<=", 4000),
             ("source", "=", "cc")]))

    # 14. boundary-order lookup: SortedKeyIndex probes O(log n) bounds on
    # the driver; the plan is a tiny rg_id IN-list over the manifest —
    # no per-row scan of row-group stats at all
    from tokenc.sorted_index import SortedKeyIndex

    sidx = SortedKeyIndex.build(spark.read.parquet(f"{tmp}/multi"), "doc_id")
    plans["SORTED LOOKUP (binary-searched rg_id IN-list)"] = plan_of(
        sidx.filter(spark.read.parquet(f"{tmp}/multi"), 100, 120)
        .select("rg_id", "n_rows"))

    # 15. index-bounded lookup: the index bounds the kept groups' blob
    # bytes, so scan() fetches them and decodes in the driver — the plan
    # is a LocalTableScan with the residual folded in, no Python stage
    mt = spark.read.parquet(f"{tmp}/multi")
    plans["INDEX-BOUNDED LOOKUP (driver decode, no Python worker)"] = \
        plan_of(scan(mt, mspecs, to_arrow_schema(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "n_chars", "source").schema),
            [("doc_id", "between", (100, 120))],
            indexes={"doc_id": SortedKeyIndex.build(mt, "doc_id")}))

    n_exchange = {k: v.count("Exchange") for k, v in plans.items()}

    lines = [
        "# PLANS — physical-plan evidence (`.explain(\"formatted\")`)\n",
        "Regenerate with `python scripts/gen_plans.py`. Captured from the "
        f"{os.path.basename(SF_DIR)} pipelines; the properties below are what "
        "make the engine scale to 1000 executors / 100 TB:\n",
        "1. **Encode has no Exchange** on either path. `mapInArrow` consumes "
        "scan partitions directly (DataFrame path) or file units "
        "(file-granular path); row-group sizing happens inside the task.",
        "2. **Scan column pruning reaches Parquet.** The encode scan's "
        "`ReadSchema` is exactly the needed columns — untouched columns "
        "never leave the source files.",
        "3. **Projected decode reads only the requested blobs** "
        "(`ReadSchema: struct<doc_id_blob,n_tok_blob>`) — the reference's "
        "`ReadPartial` projection pushdown (reader/reader.go:256-263), "
        "supplied by the container for free. `decode_df` is `scan()` with "
        "no conjunct: its plan is scan's projection of the blob columns "
        "into one `MapInArrow`, and the `lit(True)` residual folds away.",
        "4. **Row-group pruning touches no blobs.** The stats-prune plan "
        "reads only `rg_id`, `n_rows` + the `n_tok_meta` struct "
        "(nested-schema pruning); blobs decode only after pruning. "
        "read_range prunes on (rg_part, rg_idx) the same way.",
        "5. **File-granular decode moves no data through the JVM**: its "
        "plan is a `Range` of one row per task (the file list rides in the "
        "task closure); blob bytes are read with pyarrow inside tasks and "
        "only tiny invariant rows come back.",
        "6. **dedup_embed joins bucket-equal only** — LSH signatures are "
        "pure projections; the pair join keys on (tbl, bucket); no cross "
        "join appears anywhere.",
        "7. **A range scan filters on the meta struct BEFORE the blob "
        "scan** (scan with one range conjunct): manifest min/max prune, "
        "then page-level min/max skip inside the task — no Exchange.",
        "8. **Nested shredding is a pure projection** — no Exchange, no "
        "Python stage; the deep unshred is exactly one mapInArrow pass.",
        "9. **Sequence packing shuffles arrays, not tokens.** Its "
        "data-carrying Exchanges are the hash partition of doc arrays by "
        "DETERMINISTIC range bucket (no RangePartitioner sampling — bucket "
        "id is a pure expression of the data, so re-execution is "
        "bit-stable) and the seq_id groupBy (dense uniform keys); the "
        "remaining Exchanges in its count are metadata-scale — the "
        "per-bucket totals aggregate (16-byte rows), the ≤P-row base "
        "window, and the broadcast of bases — computed in the SAME plan, "
        "no collect. No single-task global window, no per-token explode, "
        "no Python stage.",
        "10. **Bloom point-lookup pruning reads only the meta struct** — "
        "one filter probe per ROW GROUP in a vectorized pandas UDF over "
        "`doc_id_meta.bloom`; blobs scan only after the prune.",
        "11. **Dictionary-distinct pruning is a pure JVM expression** — "
        "`from_json` + `exists` over `source_meta.distinct_json` evaluate "
        "the LIKE pattern against each chunk's recorded distinct set; no "
        "UDF, no blob column in the scan's ReadSchema.",
        "12. **Compound scan stays Exchange-free and has one Python "
        "stage**: all three conjuncts' metadata prunes (min/max + "
        "distinct) filter the manifest scan in one Filter before the "
        "single blob-decoding mapInArrow, which also checks the `=` "
        "conjunct's bloom per value (no pandas-UDF filter stage); the "
        "residual predicate is an ordinary Spark Filter after it.",
        "13. **Sorted-key lookup plans as a tiny rg_id IN-list** — the "
        "binary search over row-group bounds happens on the driver's "
        "cached index (O(log n) probed bounds), so the cluster-side plan "
        "never scans per-row-group stats at all.",
        "14. **An index-bounded lookup starts no Python worker**: when "
        "the sorted index bounds the kept row groups and their blobs total "
        "at most `DECODE_BATCH_BYTES`, `scan()` fetches those blobs and "
        "runs its decode body in the driver; the plan is a "
        "`LocalTableScan` with the residual applied, with no `MapInArrow`.",
        f"15. Exchange count per plan: { {k: n for k, n in n_exchange.items()} }"
        " — encode and decode have none on either path: file-granular "
        "tasks start from a `Range` with one row per task and take their "
        "slice of the file list from the task closure. The Exchanges that "
        "remain are dedup_embed's bucket-equality join shuffles (keyed by "
        "uniformly-distributed hashes) and sequence packing's (item 9). "
        "read_range's manifest collect is a separate metadata-only job "
        "(rg_part/rg_idx/n_rows + a content key hashed from the meta "
        "stats).\n",
    ]
    for name, p in plans.items():
        lines.append(f"\n=== {name} ===\n")
        lines.append("```")
        lines.append(p)
        lines.append("```")

    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote BENCH/PLANS.md; Exchange counts:", n_exchange)
    spark.stop()


if __name__ == "__main__":
    main()
