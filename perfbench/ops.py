"""Spark session, the timed operations, and the correctness gate on each.

Every operation calls tokenc's public functions the way a user would and
returns its wall time; its result is checked against an oracle computed
from the generated source without going through tokenc. A wrong result is
recorded on the Gate as a failed operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

TARGET_RAW_BYTES = 8 << 20  # raw bytes per encoded row group
SAMPLE_ROWS = 12            # rows compared bit for bit on every decode
GET_KEYS = 8
GET_ABSENT = 3              # of the GET_KEYS, keys absent from the table
SCAN_FRAC = 0.001           # share of rows one range scan covers

CONTENT_HASH = "bit_xor(xxhash64(doc_id, tokens, n_tok, source))"


@dataclass
class Source:
    """The generated input and everything the gates compare against."""
    table: pa.Table
    files: list[str]
    raw_bytes: int
    parquet_zstd_bytes: int
    digest: str
    n_tok_sum: int
    id_bytes: int
    src_bytes: int
    row_tok_sum: np.ndarray       # per-row sum of tokens
    prefix_tok: np.ndarray        # prefix sums of row_tok_sum (n + 1)
    prefix_ntok: np.ndarray       # prefix sums of n_tok (n + 1)
    content_hash: int | None = None  # Spark xxhash oracle, set per session

    @property
    def n_rows(self) -> int:
        return self.table.num_rows


def make_source(seed: int, raw_budget: int, mean_tokens: int, src_dir: str,
                n_files: int) -> Source:
    """Generate the seeded table, write it to `n_files` source files in row
    order, and compute the oracle values the gates compare against."""
    t = gen.make_table(seed, raw_budget, mean_tokens)
    files = gen.write_source(t, src_dir, n_files)
    toks = t["tokens"].combine_chunks()
    vals = toks.values.to_numpy().astype(np.int64)
    offs = toks.offsets.to_numpy()
    row_sum = np.add.reduceat(vals, offs[:-1]) if len(vals) else \
        np.zeros(t.num_rows, np.int64)
    row_sum[np.diff(offs) == 0] = 0
    n_tok = t["n_tok"].to_numpy().astype(np.int64)
    return Source(
        table=t, files=files, raw_bytes=gen.raw_bytes(t),
        parquet_zstd_bytes=sum(os.path.getsize(f) for f in files),
        digest=gen.digest(t), n_tok_sum=int(n_tok.sum()),
        id_bytes=int(pc.sum(pc.binary_length(t["doc_id"])).as_py()),
        src_bytes=int(pc.sum(pc.binary_length(t["source"])).as_py()),
        row_tok_sum=row_sum,
        prefix_tok=np.concatenate([[0], np.cumsum(row_sum)]),
        prefix_ntok=np.concatenate([[0], np.cumsum(n_tok)]))


@dataclass
class Gate:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got == want:
            return True
        self.failed += 1
        self.errors.append(f"{what}: got {got!r}, want {want!r}")
        return False


def start_session(n_cpus: int, work_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (SparkSession.builder.master(f"local[{n_cpus}]")
             .appName("tokenc-perfbench")
             .config("spark.driver.memory", "2g")
             .config("spark.driver.extraJavaOptions", jvm_opts)
             .config("spark.local.dir", os.path.join(work_dir, "spark_local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(n_cpus))
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
             # the container codec the selector ranks codecs under
             .config("spark.sql.parquet.compression.codec", "zstd")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark=None):
    """Stop Spark (`spark`, else whatever context is active) and its JVM,
    and wait until the JVM has exited; a later start_session launches a
    fresh one."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    if gw.proc is not None:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def content_hash_oracle(spark, src: Source) -> int:
    """xor of per-row xxhash64 over the source, read by Spark's own
    Parquet reader (no tokenc code on this path)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(*src.files).agg(
        F.expr(CONTENT_HASH)).collect()[0][0]


# --- bulk encode / decode ---------------------------------------------------

def encode_op(spark, src: Source, specs, out_dir: str, gate: Gate) -> float:
    """encode_files plus the container write; the gate reads the written
    manifest back with pyarrow."""
    from tokenc.files import encode_files

    t0 = time.perf_counter()
    encode_files(spark, src.files, specs, target_raw_bytes=TARGET_RAW_BYTES) \
        .write.mode("overwrite").parquet(out_dir)
    dt = time.perf_counter() - t0
    man = pq.read_table(out_dir, columns=[
        "n_rows", "tokens_meta", "doc_id_meta", "source_meta"])
    got = (int(pc.sum(man["n_rows"]).as_py()),
           meta_sum(man, "tokens_meta", "n_values"),
           meta_sum(man, "doc_id_meta", "raw_bytes"),
           meta_sum(man, "source_meta", "raw_bytes"))
    want = (src.n_rows, src.n_tok_sum, src.id_bytes + 4 * src.n_rows,
            src.src_bytes + 4 * src.n_rows)
    gate.check("encode manifest (rows, tokens, id bytes, source bytes)",
               got, want)
    return dt


def meta_sum(man: pa.Table, col: str, fld: str) -> int:
    return int(pc.sum(pc.struct_field(man[col], fld)).as_py())


def disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def sample_rows(src: Source, seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 17])
    rows = set(rng.choice(src.n_rows, SAMPLE_ROWS - 1, replace=False)
               .tolist())
    rows.add(int(np.argmax(src.table["n_tok"].to_numpy())))  # a giant doc
    return sorted(rows)


def decode_op(spark, src: Source, specs, enc_dir: str, sample: list[int],
              gate: Gate, tamper=None) -> float:
    dt, r = decode_rows(spark, src, specs, enc_dir, sample, tamper)
    check_decode(src, sample, r, gate)
    return dt


def decode_rows(spark, src: Source, specs, enc_dir: str, sample: list[int],
                tamper=None):
    """decode_files to rows in Spark. One aggregate consumes every row and
    returns the invariants, a content hash and the sample rows → (wall
    seconds, result row). `tamper` (self-test only) rewrites the decoded
    Arrow batches before Spark sees them."""
    from pyspark.sql import functions as F

    from tokenc.engine import from_arrow_schema
    from tokenc.files import decode_files

    ids = [src.table["doc_id"][i].as_py() for i in sample]
    # the window covers the whole public call: decode_files lists the
    # encoded files and plans on the driver before any row is decoded
    t0 = time.perf_counter()
    df = decode_files(spark, enc_dir, specs, gen.SCHEMA)
    if tamper is not None:
        df = df.mapInArrow(tamper, from_arrow_schema(gen.SCHEMA))
    r = df.agg(
        F.count("*"), F.sum("n_tok"), F.sum(F.size("tokens")),
        F.sum(F.octet_length("doc_id")), F.sum(F.octet_length("source")),
        F.expr(CONTENT_HASH),
        F.collect_list(F.when(F.col("doc_id").isin(ids), F.struct(
            "doc_id", "tokens", "n_tok", "source")))).collect()[0]
    return time.perf_counter() - t0, r


def check_decode(src: Source, sample: list[int], r, gate: Gate):
    """Invariants equal the source's, and the sample rows match bit for
    bit. Needs src.content_hash."""
    gate.check("decode invariants (rows, n_tok, tokens, id bytes, "
               "source bytes, content hash)",
               tuple(int(x or 0) for x in r[:6]),
               (src.n_rows, src.n_tok_sum, src.n_tok_sum, src.id_bytes,
                src.src_bytes, src.content_hash))
    got = sorted((x["doc_id"], list(x["tokens"]), x["n_tok"], x["source"])
                 for x in r[6])
    want = sorted((d["doc_id"], d["tokens"], d["n_tok"], d["source"])
                  for d in src.table.take(sample).to_pylist())
    gate.check("decode sample rows", got, want)


# --- lookups ----------------------------------------------------------------

def lookup_table(spark, enc_dir: str):
    """The encoded table as a lookup service holds it: cached, with the
    sorted doc_id index built once → (DataFrame, SortedKeyIndex)."""
    from tokenc.engine import sorted_index_for

    df = spark.read.parquet(enc_dir).cache()
    df.count()
    return df, sorted_index_for(df, "doc_id")


def lookup_result(df) -> tuple[int, int, int]:
    """Fetch the result rows to the client as Arrow → (rows, sum of n_tok,
    sum of tokens)."""
    t = df.toArrow()
    toks = pc.list_flatten(t["tokens"])
    return (t.num_rows, int(pc.sum(t["n_tok"]).as_py() or 0),
            int(pc.sum(toks.cast(pa.int64())).as_py() or 0))


def scan_query(rng, src: Source):
    """Seeded doc_id range over ~SCAN_FRAC of the rows → (lo_row, hi_row)."""
    w = max(1, int(src.n_rows * SCAN_FRAC))
    lo = int(rng.integers(0, src.n_rows - w + 1))
    return lo, lo + w


def get_query(rng, src: Source) -> list[int]:
    """GET_KEYS doc numbers: present ones are even (2*row); absent ones are
    odd, so they fall inside some row group's [min, max]."""
    present = rng.choice(src.n_rows, GET_KEYS - GET_ABSENT, replace=False)
    absent = rng.integers(0, src.n_rows - 1, GET_ABSENT)
    return sorted([2 * int(i) for i in present]
                  + [2 * int(i) + 1 for i in absent])


def scan_op(spark, table_df, index, specs, src: Source,
            rows: tuple[int, int], gate: Gate) -> float:
    from tokenc.engine import scan

    lo, hi = rows
    flt = [("doc_id", "between", (gen.doc_key(2 * lo),
                                  gen.doc_key(2 * (hi - 1))))]
    t0 = time.perf_counter()
    got = lookup_result(scan(table_df, specs, gen.SCHEMA, flt,
                          indexes={"doc_id": index}))
    dt = time.perf_counter() - t0
    want = (hi - lo, int(src.prefix_ntok[hi] - src.prefix_ntok[lo]),
            int(src.prefix_tok[hi] - src.prefix_tok[lo]))
    gate.check(f"scan rows [{lo}, {hi}) (count, n_tok, token sum)", got, want)
    return dt


def get_op(spark, table_df, index, specs, src: Source, nums: list[int],
           gate: Gate) -> float:
    from tokenc.engine import get

    keys = [gen.doc_key(k) for k in nums]
    t0 = time.perf_counter()
    got = lookup_result(get(table_df, specs, gen.SCHEMA, "doc_id", keys,
                         index=index))
    dt = time.perf_counter() - t0
    rows = [k // 2 for k in nums if k % 2 == 0]
    want = (len(rows), int(sum(src.prefix_ntok[i + 1] - src.prefix_ntok[i]
                               for i in rows)),
            int(sum(src.row_tok_sum[i] for i in rows)))
    gate.check(f"get {keys} (count, n_tok, token sum)", got, want)
    return dt


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot over all CPUs, from /proc/stat.
    Steal is time the hypervisor ran something else while this machine
    had work to do."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def worker_peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among the Python workers Spark forked:
    python processes descended from this driver, other than the driver."""
    me = os.getpid()
    parent, name, hwm = {}, {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(st["PPid"])
        name[pid] = st["Name"].strip()
        hwm[pid] = int(st.get("VmHWM", "0 kB").split()[0])
    peak = 0
    for pid in parent:
        if pid == me or not name[pid].startswith("python"):
            continue
        p = parent[pid]
        while p and p != me and p in parent:
            p = parent[p]
        if p == me:
            peak = max(peak, hwm[pid])
    return peak / 1024.0
