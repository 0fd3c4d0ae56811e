"""Traced run: the per-layer ledger of one workload.

Kept apart from the timed runs, which never trace. The replay runs in this
one process:
  - tokenc.local.write_table / read_table over the workload's source, with
    spans around the layer entry points they reach: selector.choose,
    encode_chunk / decode_chunk, the codec kernels (chunk._encode_payload /
    _decode_payload, which name the codec, and the factorize / assemble
    steps a paged DICT chunk calls instead), the bloom build, and the
    pyarrow Parquet write/read of the container;
  - the file-granular Spark calls (files.*) and the DataFrame-API
    frontends (engine.encode_df / decode_df), each timed as a whole call;
  - the lookup funnel: scans and gets on the cached encoded table, the
    public row-group prunes, and chunk.page_filter_row_runs(_multi) on the
    kept blobs.
Spans are recorded from this file by wrapping those functions where they
are looked up; the engine is not edited. A span holds name, layer, start,
end, parent and a byte count. A layer's self time is its spans' time minus
their child spans'. Every span's self time lands in exactly one s-unit
ledger entry or in trace.unattributed_frac, so the two add up to the traced
wall. Spans stay in memory and are written as JSON lines at the end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, ops, stats
from .run import N_CPUS, N_FILES, RAW_BYTES, ROOT
from .timed import workload_specs

COLUMNS = ["doc_id", "tokens", "n_tok", "source"]
# the selector's candidates for this table's integer and string columns
INT_CODECS = ["plain", "delta_bp", "dict", "for", "rles"]
STR_CODECS = ["plain", "dict", "fsst", "dlba", "dba"]
# codecs with a per-codec ledger entry: the ones the selector picks on
# every seed of both workloads (the others read 0 there; the detail line
# still lists every codec that ran)
CODECS = ["dict", "dba", "for"]
FUNNEL_QUERIES = 3  # scans and gets whose pruning funnel is measured
REGRET_FILES = 2    # source files whose chunks the regret sweep encodes


def per_layer_names() -> list[str]:
    """Every metric a traced run prints, in BENCHMARK.json order."""
    names = []
    for c in CODECS:
        names += [f"codecs.{c}.{m}" for m in
                  ("encode_s", "decode_s", "payload_bytes", "values")]
    names += ["selector.self_s", "selector.calls", "selector.regret_frac"]
    for col in COLUMNS:
        names += [f"selector.picks.{col}.{c}" for c in
                  (STR_CODECS if col in ("doc_id", "source") else INT_CODECS)]
    names += ["chunk.encode_self_s", "chunk.decode_self_s",
              "chunk.overhead_bytes", "bloom.build_s",
              "local.write_self_s", "local.read_self_s",
              "container.write_s", "container.read_s",
              "bytes.raw", "bytes.payload", "bytes.disk",
              "bytes.parquet_zstd", "bytes.parquet_snappy"]
    names += [f"bytes.payload.{col}" for col in COLUMNS]
    names += ["files.encode_compute_s", "files.write_s",
              "files.decode_kernels_s", "files.pivot_s",
              "sorted_index.build_s", "engine.scan_s", "engine.get_s",
              "engine.prune_s", "chunk.page_filter_s", "engine.rg_total",
              "engine.scan.rg_kept_frac", "engine.get.rg_kept_frac",
              "chunk.page_rows_frac", "engine.scan.spark_jobs",
              "engine.get.spark_jobs", "engine.encode_df_s",
              "engine.decode_df_s", "trace.overhead_frac",
              "trace.unattributed_frac"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.startswith("bytes.") or name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list = []

    @contextmanager
    def span(self, name: str, layer: str, **extra):
        rec = {"name": name, "layer": layer, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else -1,
               "bytes": 0, **extra}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def in_layer(self, layer: str) -> bool:
        return any(self.spans[i]["layer"] == layer for i in self._stack)

    def wrap(self, module, attr: str, make):
        """Replace module.attr by make(original) until restore()."""
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, make(orig))

    def restore(self):
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] >= 0:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")


def instrument(tr: Tracer):
    """Wrap the engine's layer entry points at the names its callers look
    them up by."""
    import tokenc.chunk as chunk
    import tokenc.engine as engine
    import tokenc.local as local
    import tokenc.selector as selector
    from tokenc.codecs import CODEC_NAMES, dict_codec

    def choose(orig):
        def f(phys, **kw):
            with tr.span("selector.choose", "selector") as rec:
                pick = orig(phys, **kw)
                rec["column"], rec["codec"] = kw.get("key"), CODEC_NAMES[pick]
            return pick
        return f

    def kernel(orig, op):
        def f(codec, phys, *args):
            layer = "selector" if tr.in_layer("selector") else "codecs"
            with tr.span(f"codecs.{CODEC_NAMES[codec]}.{op}", layer) as rec:
                out = orig(codec, phys, *args)
                if op == "encode":
                    vals, _, offs = args
                    rec["values"] = (offs.size - 1 if offs is not None
                                     else len(vals))
                    rec["bytes"] = len(out)
                else:
                    rec["values"], rec["bytes"] = args[1], len(args[0])
            return out
        return f

    def dict_step(orig):
        """A paged DICT chunk factorizes once and assembles every page
        itself, without _encode_payload: time those steps as dict encode.
        The values and payload bytes are booked on the assemble step."""
        def f(*args):
            layer = "selector" if tr.in_layer("selector") else "codecs"
            with tr.span("codecs.dict.encode", layer) as rec:
                out = orig(*args)
                assembled = orig.__name__.startswith("assemble")
                rec["values"] = len(args[0]) if assembled else 0
                rec["bytes"] = len(out) if assembled else 0
            return out
        return f

    class DictCodec:
        """dict_codec as tokenc.chunk sees it, with the paged steps timed.
        The codec's own encode_* keep calling the originals, so a
        _encode_payload span never nests a second dict span."""

        def __getattr__(self, name):
            return getattr(dict_codec, name)

    paged_dict = DictCodec()
    for name in ("factorize_binary", "factorize_numeric", "assemble_binary",
                 "assemble_numeric"):
        setattr(paged_dict, name, dict_step(getattr(dict_codec, name)))

    def encode_chunk(orig):
        def f(**kw):
            with tr.span("chunk.encode_chunk", "chunk") as rec:
                blob, st = orig(**kw)
                rec["bytes"] = len(blob)
            return blob, st
        return f

    def decode_chunk(orig):
        def f(blob):
            with tr.span("chunk.decode_chunk", "chunk") as rec:
                rec["bytes"] = len(blob)
                return orig(blob)
        return f

    def bloom(orig):
        def f(parts, spec):
            with tr.span("bloom.build", "bloom"):
                return orig(parts, spec)
        return f

    class Container:
        """pyarrow.parquet as tokenc.local sees it, with write/read timed."""

        def __getattr__(self, name):
            return getattr(pq, name)

        @staticmethod
        def write_table(table, where, **kw):
            with tr.span("container.write", "container") as rec:
                pq.write_table(table, where, **kw)
                rec["bytes"] = os.path.getsize(where)

        @staticmethod
        def read_table(source, **kw):
            with tr.span("container.read", "container") as rec:
                rec["bytes"] = os.path.getsize(source)
                return pq.read_table(source, **kw)

    tr.wrap(selector, "choose", choose)
    tr.wrap(chunk, "_encode_payload", lambda o: kernel(o, "encode"))
    tr.wrap(chunk, "_decode_payload", lambda o: kernel(o, "decode"))
    tr.wrap(engine, "encode_chunk", encode_chunk)
    tr.wrap(local, "decode_chunk", decode_chunk)
    tr.wrap(engine, "_chunk_bloom", bloom)
    tr.wrap(local, "pq", lambda o: Container())
    tr.wrap(chunk, "dict_codec", lambda o: paged_dict)


def local_replay(tr: Tracer | None, src, specs, out_dir: str,
                 gate) -> float:
    from tokenc import local

    def step(name, fn):
        if tr is None:
            return fn()
        with tr.span(name, "local"):
            return fn()

    t0 = time.perf_counter()
    step("local.write_table", lambda: local.write_table(
        src.table, out_dir, specs=specs, target_raw_bytes=ops.TARGET_RAW_BYTES))
    back = step("local.read_table", lambda: local.read_table(out_dir, specs))
    dt = time.perf_counter() - t0
    gate.check("local round trip equals the source", back.equals(src.table),
               True)
    return dt


def regret(src, work_dir: str) -> float:
    """Final bytes (blob under zstd, as the container stores it) of the
    auto pick against the best forced codec, per column chunk of the first
    REGRET_FILES source files: sum(auto - best) / sum(best). Untraced."""
    from tokenc import local

    n = sum(pq.read_metadata(f).num_rows for f in src.files[:REGRET_FILES])
    table = src.table.slice(0, n)

    def final_sizes(overrides) -> dict:
        d = os.path.join(work_dir, "regret")
        kw = {}
        if overrides:
            kw["codec_overrides"] = overrides
        local.write_table(table, d, target_raw_bytes=ops.TARGET_RAW_BYTES, **kw)
        t = pq.read_table(os.path.join(d, "part-00000.parquet"),
                          columns=[f"{c}_blob" for c in COLUMNS])
        zstd = pa.Codec("zstd")
        return {c: [len(zstd.compress(b.as_buffer())) for b in t[f"{c}_blob"]]
                for c in COLUMNS}

    auto = final_sizes(None)
    best = {c: list(v) for c, v in auto.items()}
    for k in range(max(len(INT_CODECS), len(STR_CODECS))):
        forced = {}
        for col in COLUMNS:
            cands = STR_CODECS if col in ("doc_id", "source") else INT_CODECS
            if k < len(cands):
                forced[col] = cands[k]
        sizes = final_sizes(forced)
        for col in forced:
            best[col] = [min(a, b) for a, b in zip(best[col], sizes[col])]
    b = sum(sum(v) for v in best.values())
    return (sum(sum(v) for v in auto.values()) - b) / b


def jobs_of(sc, group: str, fn):
    """Run fn under a fresh Spark job group → (result, jobs it started)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def funnel(tr, spark, table, index, specs, src, rng, gate):
    """Jobs per query, row groups kept by the public prunes, and page rows
    selected by the page directory on the kept blobs."""
    from tokenc.chunk import page_filter_row_runs, page_filter_row_runs_multi
    from tokenc.engine import prune_rowgroups_eq, prune_rowgroups_str

    sc = spark.sparkContext
    total = table.count()
    out = {"scan_jobs": [], "get_jobs": [], "scan_kept": [], "get_kept": []}
    page_rows = kept_rows = 0

    def kept_blobs(df):
        return df.select("n_rows", "doc_id_blob").toArrow()

    for q in range(FUNNEL_QUERIES):
        rows = ops.scan_query(rng, src)
        klo, khi = gen.doc_key(2 * rows[0]), gen.doc_key(2 * (rows[1] - 1))
        with tr.span("engine.scan", "engine"):
            _, n = jobs_of(sc, f"scan{q}", lambda: ops.scan_op(
                spark, table, index, specs, src, rows, gate))
        out["scan_jobs"].append(n)
        with tr.span("engine.prune_rowgroups_str", "engine"):
            kept = kept_blobs(prune_rowgroups_str(table, "doc_id", klo, khi))
        out["scan_kept"].append(kept.num_rows / total)
        with tr.span("chunk.page_filter_row_runs", "chunk"):
            for b, n_rows in zip(kept["doc_id_blob"], kept["n_rows"]):
                runs = page_filter_row_runs(b.as_py(), klo, khi)
                page_rows += (n_rows.as_py() if runs is None
                              else sum(e - s for s, e in runs))
                kept_rows += n_rows.as_py()

        nums = ops.get_query(rng, src)
        keys = [gen.doc_key(k) for k in nums]
        with tr.span("engine.get", "engine"):
            _, n = jobs_of(sc, f"get{q}", lambda: ops.get_op(
                spark, table, index, specs, src, nums, gate))
        out["get_jobs"].append(n)
        with tr.span("engine.prune_rowgroups_eq", "engine"):
            parts = [prune_rowgroups_eq(prune_rowgroups_str(
                table, "doc_id", k, k), "doc_id", k).select("rg_id")
                for k in keys]
            ids = parts[0]
            for p in parts[1:]:
                ids = ids.union(p)
            kept = kept_blobs(table.join(ids.distinct(), "rg_id"))
        out["get_kept"].append(kept.num_rows / total)
        with tr.span("chunk.page_filter_row_runs_multi", "chunk"):
            for b, n_rows in zip(kept["doc_id_blob"], kept["n_rows"]):
                runs = page_filter_row_runs_multi(b.as_py(), keys)
                page_rows += (n_rows.as_py() if runs is None
                              else sum(e - s for s, e in runs))
                kept_rows += n_rows.as_py()
    return total, out, page_rows / max(kept_rows, 1)


def spark_calls(tr, spark, src, specs, work_dir, sample, gate):
    """files.* and the DataFrame-API frontends, each a whole Spark call."""
    from pyspark.sql import functions as F

    from tokenc.engine import decode_df, encode_df
    from tokenc.files import decode_invariants_files, encode_files

    enc_dir = os.path.join(work_dir, "trace_enc")
    with tr.span("files.encode_compute", "files"):
        encode_files(spark, src.files, specs,
                     target_raw_bytes=ops.TARGET_RAW_BYTES).agg(
            F.sum("n_rows"), F.sum(F.length("tokens_blob"))).collect()
    with tr.span("files.encode_write", "files"):
        encode_files(spark, src.files, specs,
                     target_raw_bytes=ops.TARGET_RAW_BYTES) \
            .write.mode("overwrite").parquet(enc_dir)
    with tr.span("files.decode_kernels", "files"):
        decode_invariants_files(spark, enc_dir, specs).groupBy("column").agg(
            F.sum("n_rows"), F.sum("num_sum"), F.sum("byte_sum")).collect()
    with tr.span("files.decode_rows", "files"):
        _, r = ops.decode_rows(spark, src, specs, enc_dir, sample)
    ops.check_decode(src, sample, r, gate)
    with tr.span("engine.encode_df", "engine"):
        encode_df(spark.read.parquet(*src.files), specs,
                  target_raw_bytes=ops.TARGET_RAW_BYTES).agg(
            F.sum("n_rows"), F.sum(F.length("tokens_blob"))).collect()
    with tr.span("engine.decode_df", "engine"):
        blobs = spark.read.parquet(enc_dir).select(
            *[f"{s.name}_blob" for s in specs])
        decode_df(blobs, specs, gen.SCHEMA).agg(
            F.count("*"), F.sum("n_tok"), F.sum(F.size("tokens"))).collect()


def run(name: str, mean_tokens: int, seed: int, seconds: float,
        work_dir: str, raw_bytes: int = RAW_BYTES) -> dict:
    from tokenc.sorted_index import SortedKeyIndex

    src = ops.make_source(seed, raw_bytes, mean_tokens,
                          os.path.join(work_dir, "src"), N_FILES)
    specs = workload_specs()
    sample = ops.sample_rows(src, seed)
    rng = np.random.default_rng([seed, 2])
    snappy = os.path.join(work_dir, "snappy.parquet")
    pq.write_table(src.table, snappy, compression="snappy")

    # untraced: warm Spark and the process, then the untraced local replay
    gate = ops.Gate()
    spark = ops.start_session(N_CPUS, work_dir)
    src.content_hash = ops.content_hash_oracle(spark, src)
    warm_dir = os.path.join(work_dir, "warm")
    ops.encode_op(spark, src, specs, warm_dir, gate)
    ops.decode_op(spark, src, specs, warm_dir, sample, gate)
    table, _ = ops.lookup_table(spark, warm_dir)
    local_dir = os.path.join(work_dir, "local")
    local_replay(None, src, specs, local_dir, gate)
    untraced_s = local_replay(None, src, specs, local_dir, gate)
    regret_frac = regret(src, work_dir)

    tr = Tracer()
    instrument(tr)
    try:
        with tr.span("trace", "trace"):
            with tr.span("local.replay", "trace"):
                local_replay(tr, src, specs, local_dir, gate)
            spark_calls(tr, spark, src, specs, work_dir, sample, gate)
            with tr.span("sorted_index.build", "sorted_index"):
                index = SortedKeyIndex.build(table, "doc_id")
            total, fun, page_frac = funnel(tr, spark, table, index, specs,
                                           src, rng, gate)
    finally:
        tr.restore()
    ops.stop_session(spark)
    traced_s = next(s["end"] - s["start"] for s in tr.spans
                    if s["name"] == "local.replay")
    tr.write(os.path.join(ROOT, ".perfbench_work", "trace",
                          f"{name}-{seed}.jsonl"))

    m = ledger(tr)
    m["selector.regret_frac"] = regret_frac
    man = pq.read_table(os.path.join(work_dir, "local", "part-00000.parquet"),
                        columns=[f"{c}_meta" for c in COLUMNS])
    for col in COLUMNS:
        m[f"bytes.payload.{col}"] = ops.meta_sum(man, f"{col}_meta",
                                                  "enc_bytes")
    m["bytes.payload"] = sum(m[f"bytes.payload.{c}"] for c in COLUMNS)
    m["bytes.raw"] = src.raw_bytes
    m["bytes.disk"] = ops.disk_bytes(os.path.join(work_dir, "local"))
    m["bytes.parquet_zstd"] = src.parquet_zstd_bytes
    m["bytes.parquet_snappy"] = os.path.getsize(snappy)
    m["engine.rg_total"] = total
    m["engine.scan.rg_kept_frac"] = stats.median(fun["scan_kept"])
    m["engine.get.rg_kept_frac"] = stats.median(fun["get_kept"])
    m["chunk.page_rows_frac"] = page_frac
    m["engine.scan.spark_jobs"] = stats.median(fun["scan_jobs"])
    m["engine.get.spark_jobs"] = stats.median(fun["get_jobs"])
    m["trace.overhead_frac"] = (traced_s - untraced_s) / untraced_s
    names = per_layer_names()
    detail = {"workload": name, "seed": seed, "source_digest": src.digest,
              "spans": len(tr.spans), "traced_local_s": round(traced_s, 3),
              "traced_wall_s": traced_wall(tr),
              "unlisted": {k: v for k, v in m.items() if k not in names},
              "untraced_local_s": round(untraced_s, 3),
              "errors": gate.errors}
    return {"correct": gate.failed == 0, "attempted": gate.attempted,
            "failed": gate.failed, "detail": detail,
            "metrics": {k: {"value": m[k], "unit": unit_of(k)}
                        for k in names}}


# span name -> the ledger entry that gets its self time
SELF_ENTRY = {
    "chunk.encode_chunk": "chunk.encode_self_s",
    "chunk.decode_chunk": "chunk.decode_self_s",
    "bloom.build": "bloom.build_s",
    "local.write_table": "local.write_self_s",
    "local.read_table": "local.read_self_s",
    "container.write": "container.write_s",
    "container.read": "container.read_s",
    "engine.encode_df": "engine.encode_df_s",
    "engine.decode_df": "engine.decode_df_s",
    "sorted_index.build": "sorted_index.build_s",
    "engine.scan": "engine.scan_s",
    "engine.get": "engine.get_s",
    "engine.prune_rowgroups_str": "engine.prune_s",
    "engine.prune_rowgroups_eq": "engine.prune_s",
    "chunk.page_filter_row_runs": "chunk.page_filter_s",
    "chunk.page_filter_row_runs_multi": "chunk.page_filter_s",
}


def traced_wall(tr: Tracer) -> float:
    root = next(s for s in tr.spans if s["name"] == "trace")
    return root["end"] - root["start"]


def ledger(tr: Tracer) -> dict:
    """Per-layer sums over the recorded spans.

    Each span's self time goes to one s-unit entry or to the unattributed
    rest, which holds: the self time of the root and of the local.replay
    grouping span, the codec kernels without an entry of their own (see
    CODECS), and the two probe calls (files.encode_compute,
    files.decode_kernels) that files.write_s and files.pivot_s subtract
    from the whole calls: the probe's work is booked once, inside the
    whole call, and its second run is the measuring's own cost."""
    own = tr.self_times()
    m = {k: 0 for k in per_layer_names()}
    by_name: dict[str, float] = {}
    payload = blob = 0
    rest = 0.0
    for s, self_s in zip(tr.spans, own):
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_s
        if s["layer"] == "codecs":
            _, codec, op = s["name"].split(".")
            for k, v in ((f"codecs.{codec}.{op}_s", self_s),
                         (f"codecs.{codec}.values", s["values"]),
                         (f"codecs.{codec}.payload_bytes",
                          s["bytes"] if op == "encode" else 0)):
                m[k] = m.get(k, 0) + v
            if codec not in CODECS:
                rest += self_s
            if op == "encode":
                payload += s["bytes"]
        elif s["layer"] == "selector":
            m["selector.self_s"] += self_s
            if s["name"] == "selector.choose":
                m["selector.calls"] += 1
                k = f"selector.picks.{s['column']}.{s['codec']}"
                m[k] = m.get(k, 0) + 1
        elif s["name"] in SELF_ENTRY:
            m[SELF_ENTRY[s["name"]]] += self_s
        elif s["name"] in ("trace", "local.replay"):
            rest += self_s
        elif not s["name"].startswith("files."):
            raise ValueError(f"span {s['name']} has no ledger entry")
        if s["name"] == "chunk.encode_chunk":
            blob += s["bytes"]
    m["chunk.overhead_bytes"] = blob - payload
    m["files.encode_compute_s"] = by_name["files.encode_compute"]
    m["files.write_s"] = (by_name["files.encode_write"]
                          - by_name["files.encode_compute"])
    m["files.decode_kernels_s"] = by_name["files.decode_kernels"]
    m["files.pivot_s"] = (by_name["files.decode_rows"]
                          - by_name["files.decode_kernels"])
    rest += by_name["files.encode_compute"] + by_name["files.decode_kernels"]
    m["trace.unattributed_frac"] = rest / traced_wall(tr)
    return m
