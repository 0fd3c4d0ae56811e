"""The benchmark's traced ledger (perfbench/trace.py) times the engine by
wrapping module attributes at the names the engine looks them up by. A
refactor that moves a hooked call off that name would silently zero a
ledger entry; this test makes it fail instead."""

from __future__ import annotations

import fnmatch

import numpy as np
import pyarrow as pa


def test_traced_names_stay_on_the_local_path(tmp_path):
    from perfbench.trace import Tracer, instrument
    from tokenc import local

    rng = np.random.default_rng(7)
    table = pa.table({
        "doc_id": [f"d{i:05d}" for i in range(300)],
        "tokens": [rng.integers(0, 500, 16).tolist() for _ in range(300)],
        "n_tok": pa.array(np.full(300, 16), pa.int32()),
    })
    tr = Tracer()
    instrument(tr)
    try:
        local.write_table(table, str(tmp_path / "enc"))
        back = local.read_table(str(tmp_path / "enc"))
    finally:
        tr.restore()
    assert back.equals(table)
    names = {s["name"] for s in tr.spans}
    for want in ("chunk.encode_chunk", "chunk.decode_chunk",
                 "codecs.*.encode", "codecs.*.decode", "selector.choose",
                 "container.write", "container.read"):
        assert fnmatch.filter(names, want), (want, sorted(names))
