#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark itself (about two minutes).

    python3 perfbench/selftest.py

Checks three things and exits non-zero if any fails:
  1. a timed run prints every end_to_end metric of BENCHMARK.json, and a
     traced run every per_layer metric, each with the unit declared there;
  2. the traced run's s-unit layer entries plus trace.unattributed_frac
     times the traced wall add up to that wall;
  3. a decode whose output was tampered with (one token changed) is
     counted as a failed operation by the correctness gate.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_RAW_BYTES = 3_000_000


def flip_one_token(batches):
    """Decoded batches with the first token of the first row changed."""
    import pyarrow as pa

    first = True
    for b in batches:
        if first and b.num_rows:
            first = False
            toks = b.column(b.schema.get_field_index("tokens"))
            vals = toks.values.to_numpy().copy()
            vals[0] += 1
            toks = pa.ListArray.from_arrays(toks.offsets, pa.array(vals))
            cols = [toks if n == "tokens" else b.column(i)
                    for i, n in enumerate(b.schema.names)]
            b = pa.RecordBatch.from_arrays(cols, schema=b.schema)
        yield b


def check_names(result: dict, declared: list[dict], what: str) -> list[str]:
    got = result["metrics"]
    errs = [f"{what}: {d['name']} missing" for d in declared
            if d["name"] not in got]
    errs += [f"{what}: {d['name']} unit {got[d['name']]['unit']!r}, "
             f"declared {d['unit']!r}" for d in declared
             if d["name"] in got and got[d["name"]]["unit"] != d["unit"]]
    extra = set(got) - {d["name"] for d in declared}
    errs += [f"{what}: {n} printed but not declared" for n in sorted(extra)]
    if not result["correct"]:
        errs.append(f"{what}: run not correct: {result['detail']['errors']}")
    return errs


def check_ledger(result: dict, declared: list[dict]) -> list[str]:
    got = result["metrics"]
    wall = result["detail"]["traced_wall_s"]
    total = (sum(got[d["name"]]["value"] for d in declared
                 if d["unit"] == "s")
             + got["trace.unattributed_frac"]["value"] * wall)
    if abs(total - wall) > 1e-6 * wall:
        return [f"ledger: layer seconds + unattributed = {total:.6f} s, "
                f"traced wall = {wall:.6f} s"]
    return []


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import ops, run, timed, trace

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run._env(work)
    errs = []
    try:
        name, mean_tokens = next(iter(run.WORKLOADS.items()))
        for mod, key in ((timed, "end_to_end"), (trace, "per_layer")):
            result = mod.run(name, mean_tokens, 1, 1, work, TINY_RAW_BYTES)
            errs += check_names(result, bench[key], f"{mod.__name__} run")
        errs += check_ledger(result, bench["per_layer"])

        src = ops.make_source(2, TINY_RAW_BYTES, mean_tokens,
                              os.path.join(work, "tamper_src"), 2)
        specs = timed.workload_specs()
        spark = ops.start_session(2, work)
        try:
            src.content_hash = ops.content_hash_oracle(spark, src)
            enc = os.path.join(work, "tamper_enc")
            sample = ops.sample_rows(src, 2)
            clean, tampered = ops.Gate(), ops.Gate()
            ops.encode_op(spark, src, specs, enc, clean)
            ops.decode_op(spark, src, specs, enc, sample, clean)
            ops.decode_op(spark, src, specs, enc, sample, tampered,
                          tamper=flip_one_token)
        finally:
            ops.stop_session(spark)
        if clean.failed:
            errs.append(f"untampered decode failed the gate: {clean.errors}")
        if not tampered.failed:
            errs.append("tampered decode passed the gate")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errs:
        print("FAIL", e)
    print("selftest", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
