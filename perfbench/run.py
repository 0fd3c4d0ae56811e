#!/usr/bin/env python3
"""tokenc benchmark: one workload in one Spark local[N] process.

    python3 perfbench/run.py --workload tokens_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones from an untraced, timed run; with
--trace 1 they are the per-layer ledger of a separate traced replay (see
trace.py). The exit code is 0 only when every checked result was right.
See README.md in this directory for what each workload is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_CPUS = min(4, os.cpu_count() or 1)
# 8 source files of ~7 MB raw: each encodes to exactly one row group of
# at most ops.TARGET_RAW_BYTES, so no seed leaves a small remainder group
# (whose overheads would swing the encoded size from seed to seed)
N_FILES = 8
RAW_BYTES = 56_000_000       # raw bytes of the generated source


# workload -> mean tokens per document. Both workloads encode with a bloom
# filter on doc_id and run the same operations; they differ in row shape,
# which decides the layers that do the work.
WORKLOADS = {"tokens_bulk": 512, "short_docs": 32}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_checkout():
    """The benchmark measures the tokenc package of the checkout it runs
    in; without one there is nothing to measure."""
    if not os.path.isdir(os.path.join(ROOT, "tokenc")):
        raise SystemExit(f"no tokenc package beside {HERE}; run from the "
                         "root of a tokenc checkout")
    sys.path.insert(0, ROOT)
    import tokenc  # noqa: F401


def _env(work_dir: str):
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and let the Python workers import the checkout's tokenc."""
    os.makedirs(work_dir, exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _stop_spark():
    """Stop a session that an error left running, and wait for its JVM."""
    if "pyspark" in sys.modules:
        from perfbench import ops

        ops.stop_session()


def main(argv=None) -> int:
    args = parse_args(argv)
    _check_checkout()
    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work_dir)
    try:
        if args.trace:
            from perfbench import trace

            result = trace.run(args.workload, WORKLOADS[args.workload],
                               args.seed, args.seconds, work_dir)
        else:
            from perfbench import timed

            result = timed.run(args.workload, WORKLOADS[args.workload],
                               args.seed, args.seconds, work_dir)
    finally:
        _stop_spark()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
