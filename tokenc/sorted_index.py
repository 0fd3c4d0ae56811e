"""Boundary-order row-group index: O(log n) point/range lookups over a
sorted-key manifest.

The reference writes ColumnIndex pages with ordered bounds precisely so
readers can binary-search instead of scanning every entry
(writer/writer.go:418-481; parquet-format's ColumnIndex carries
`boundary_order` for this). tokenc's manifest analog: every chunk records
a `sorted` flag (values non-decreasing in row order, engine.META_FIELDS)
plus exact min/max stats. All the engine's prune_* paths are metadata
SCANS — one pass over every manifest row per predicate, fine as a
distributed filter but O(row groups) per lookup on the driver-adjacent
path. At 10^6 row groups a point-lookup service doing thousands of probes
wants O(log n): build this index ONCE (one O(n) collect of (rg_id, min,
max, sorted, blob bytes) — tens of MB at 10^6 groups, the same budget
read_range already spends), then every probe binary-searches the bounds.
The blob bytes let engine.scan bound a probe's decode work before it
fetches anything.

Correct for ANY overlap pattern, not just perfectly clustered layouts:
entries sort by (min, max) and the search runs on the RUNNING PREFIX MAX
of the upper bounds — a candidate group (min ≤ hi AND max ≥ lo) always
lies at or after the first index whose prefix-max reaches lo, and the
forward walk stops at the first min > hi (mins are sorted). With disjoint
ascending groups (`clustered` True) the walk visits exactly the matching
groups; with overlap it visits the overlap span. Groups without stats
(omit_stats / all-null) can hold anything and are always returned.

`last_probes` counts bound comparisons per probe — the O(log n) claim is
asserted by tests/test_sorted_index.py on a 10k-group manifest.
"""

from __future__ import annotations

import json


class SortedKeyIndex:
    def __init__(self, column: str, entries: list, no_stats_ids: list,
                 all_chunks_sorted: bool):
        entries.sort(key=lambda e: (e[0], e[1]))
        self.column = column
        # rg_id → the group's blob bytes summed over every column; build()
        # fills it when the frame has blob columns to measure
        self._sizes = None
        self.mins = [e[0] for e in entries]
        self.maxs = [e[1] for e in entries]
        self.rg_ids = [e[2] for e in entries]
        self.no_stats_ids = no_stats_ids
        pm, cur = [], None
        for m in self.maxs:
            cur = m if cur is None or m > cur else cur
            pm.append(cur)
        self.prefix_max = pm
        # disjoint ascending row groups AND in-chunk boundary order: the
        # layout a repartitionByRange+sortWithinPartitions encode produces
        self.clustered = all_chunks_sorted and all(
            self.maxs[i] <= self.mins[i + 1]
            for i in range(len(entries) - 1))
        self.last_probes = 0

    @classmethod
    def build(cls, enc_df, column: str) -> "SortedKeyIndex":
        """One collect over (rg_id, min, max, sorted, blob bytes): the
        blob bytes are the lengths of every `*_blob` column summed (the
        container reads those columns to measure them; no chunk is
        decoded). Min/max parse from the manifest's JSON stats."""
        from pyspark.sql import functions as F

        blobs = [c for c in enc_df.columns if c.endswith("_blob")]
        size = (sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in blobs),
                    F.lit(0)) if blobs else F.lit(None))
        rows = enc_df.select(
            "rg_id",
            F.col(f"{column}_meta.min_json").alias("mn"),
            F.col(f"{column}_meta.max_json").alias("mx"),
            F.col(f"{column}_meta.sorted").alias("srt"),
            size.cast("long").alias("nb")).collect()
        sizes = None
        if blobs:
            sizes = {}
            for r in rows:
                sizes[r["rg_id"]] = sizes.get(r["rg_id"], 0) + r["nb"]
        entries, no_stats, all_sorted = [], [], True
        kinds = set()
        for r in rows:
            mn = json.loads(r["mn"]) if r["mn"] is not None else None
            mx = json.loads(r["mx"]) if r["mx"] is not None else None
            # non-finite float stats serialize as the strings "nan"/"inf"/
            # "-inf" (engine._stat_json); on a float column they'd mix str
            # and float entries and break the bound sort — such chunks can
            # hold anything, so route them with the stats-less ones
            if mn is None or mx is None or mn != mn or mx != mx \
                    or (isinstance(mn, str) and mn in ("nan", "inf", "-inf")) \
                    or (isinstance(mx, str) and mx in ("nan", "inf", "-inf")):
                no_stats.append(r["rg_id"])
                continue
            kinds.add(isinstance(mn, str))
            kinds.add(isinstance(mx, str))  # a str-min/numeric-max row
            # must fail HERE, not as a confusing TypeError inside probe()
            entries.append((mn, mx, r["rg_id"]))
            all_sorted = all_sorted and bool(r["srt"])
        if len(kinds) > 1:  # defensive: never let mixed types hit the sort
            raise TypeError(f"column {column!r} has mixed-type min/max stats")
        idx = cls(column, entries, no_stats, all_sorted)
        idx._sizes = sizes
        return idx

    def probe(self, lo=None, hi=None) -> list[str]:
        """rg_ids of row groups whose [min, max] may intersect [lo, hi].
        Binary search + forward walk; sets `last_probes` to the number of
        bound comparisons performed (O(log n + matches) when clustered)."""
        self.last_probes = 0
        n = len(self.mins)
        out = list(self.no_stats_ids)
        if n == 0:
            return out
        if lo is None:
            first = 0
        else:
            a, b = 0, n
            while a < b:
                m = (a + b) // 2
                self.last_probes += 1
                if self.prefix_max[m] >= lo:
                    b = m
                else:
                    a = m + 1
            first = a
        j = first
        while j < n:
            self.last_probes += 1
            if hi is not None and self.mins[j] > hi:
                break
            if lo is None or self.maxs[j] >= lo:
                out.append(self.rg_ids[j])
            j += 1
        return out

    def _blob_bytes(self, ids) -> int | None:
        """Blob bytes of the row groups `ids` (as probe() returns them),
        or None when the index recorded no sizes."""
        if self._sizes is None:
            return None
        return sum(self._sizes[i] for i in ids)

    def lookup(self, value) -> list[str]:
        return self.probe(value, value)

    def filter(self, enc_df, lo=None, hi=None):
        """enc_df restricted to the probed row groups (point lookups and
        narrow ranges: a few ids → a tiny isin, no manifest scan)."""
        from pyspark.sql import functions as F

        ids = self.probe(lo, hi)
        return enc_df.where(F.col("rg_id").isin(ids))
