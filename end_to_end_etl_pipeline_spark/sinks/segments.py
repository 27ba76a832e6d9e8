"""Manifest SEGMENT checkpoints: per-dir planning metadata (min/max
stats + bloom bitmaps) for SEALED dirs, stored columnar and loaded
vectorized — the Iceberg manifest-file / Delta checkpoint move.

Why (measured, SCALE.md "Manifest read-planning", r08): with per-dir
planning metadata inline in the manifest JSON plus one bloom sidecar
file per dir, a 100k-dir table (≈100 TB at 1 GB/dir) pays per READ:
8.3 s manifest parse, 197 s cold bloom probe (100k file opens),
29.6 s warm probe (~10 GB of cached Python dicts, GC-bound), and
3.7 s per commit. Sealing dirs into segments of ``SEGMENT_SIZE``
makes the cold probe O(dirs/1024) file reads, the warm probe a few
numpy gathers per segment, and shrinks the manifest JSON to
dirs + {dir: seg_id} + unsealed tail.

Layout: ``<table_dir>/_segments/<uuid>/part-*.parquet`` — a
DIRECTORY, so the Spark writer fallback (non-local filesystems) and
the pyarrow fast path (file://) produce the same shape. Segments are
immutable and content-complete: written BEFORE the manifest
references them (a crash leaves unreferenced garbage for vacuum,
never a dangling pointer). A sealed dir that is later rewritten
(delete/update) simply drops out of the manifest's ``sealed`` map;
its rows in the segment go cold and are reclaimed when no retained
manifest references the segment.

Row schema (one row per dir):
  dir: string
  stats_json: string        -- json {col: [lo, hi]}
  bloom_cols: list<string>
  bloom_num_bits: list<int64>
  bloom_words: list<int64>  -- dense word arrays, concatenated in
                               bloom_cols order (len = num_bits/32 each)

No reference counterpart (the reference delegates storage to
Databricks/Delta, whose checkpoint files this mirrors).
"""

from __future__ import annotations

import json
import uuid

import numpy as np


def _dense_words(num_bits: int, words: dict) -> np.ndarray:
    arr = np.zeros(num_bits // 32, dtype=np.int64)
    for w, bits in words.items():
        arr[int(w)] = int(bits)
    return arr


def _segment_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("dir", pa.string()),
            ("stats_json", pa.string()),
            ("bloom_cols", pa.list_(pa.string())),
            ("bloom_num_bits", pa.list_(pa.int64())),
            ("bloom_words", pa.list_(pa.int64())),
        ]
    )


def write_segment(catalog, table: str, rows: list[tuple]) -> tuple[str, str]:
    """Persist one segment; ``rows`` = [(dir, stats_dict,
    {col: (num_bits, words_dict)})]. Returns (seg_id, path)."""
    seg_id = uuid.uuid4().hex
    path = f"{catalog.table_dir(table)}/_segments/{seg_id}"
    recs = {
        "dir": [], "stats_json": [], "bloom_cols": [],
        "bloom_num_bits": [], "bloom_words": [],
    }
    for d, stats, blooms in rows:
        recs["dir"].append(d)
        recs["stats_json"].append(json.dumps(stats or {}, sort_keys=True))
        cols = sorted(blooms or {})
        recs["bloom_cols"].append(cols)
        recs["bloom_num_bits"].append([int(blooms[c][0]) for c in cols])
        flat: list[int] = []
        for c in cols:
            nb, words = blooms[c]
            flat.extend(_dense_words(int(nb), words).tolist())
        recs["bloom_words"].append(flat)

    import pyarrow as pa

    t = pa.table(
        {
            "dir": pa.array(recs["dir"], pa.string()),
            "stats_json": pa.array(recs["stats_json"], pa.string()),
            "bloom_cols": pa.array(recs["bloom_cols"], pa.list_(pa.string())),
            "bloom_num_bits": pa.array(
                recs["bloom_num_bits"], pa.list_(pa.int64())
            ),
            "bloom_words": pa.array(recs["bloom_words"], pa.list_(pa.int64())),
        }
    )
    local = catalog.fs._local(path)
    if local is not None:
        import os

        import pyarrow.parquet as pq

        os.makedirs(local, exist_ok=True)
        pq.write_table(t, f"{local}/part-00000.parquet")
    else:
        # non-local filesystem: one metadata-scale Spark job. Hand
        # Spark the Arrow table DIRECTLY — a pandas round-trip would
        # degrade the list<int64>/list<string> columns to object
        # arrays and re-infer the element types (an all-stats segment
        # with empty bloom_cols lists has nothing to infer from).
        catalog.spark.createDataFrame(t).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
    return seg_id, path


class Segment:
    """Loaded segment with vectorized planning probes. Bloom words
    live in ONE flat int64 numpy array (start offsets per dir/col),
    not per-dir Python dicts — at 100k dirs that is ~0.8 GB of numpy
    instead of ~10 GB of dict objects, and a probe is a handful of
    ``np.take`` gathers instead of 100k dict walks."""

    def __init__(self, table):
        self.dirs: list[str] = table.column("dir").to_pylist()
        # O(1) dir lookups for the rewrite paths: delete/update over a
        # big table calls stats_of/bloom_cols_of per affected dir, and
        # list.index over 1024 long URI strings per call is an O(n^2)
        # driver stall at scale
        self._dir_idx: dict[str, int] = {
            d: i for i, d in enumerate(self.dirs)
        }
        # Segments are one-row-per-dir by construction; a malformed
        # duplicate would make dict lookups (last-wins) silently
        # answer from a different row than the positional probe
        # arrays — fail loud instead.
        if len(self._dir_idx) != len(self.dirs):
            raise ValueError(
                "corrupt segment: duplicate dir rows "
                f"({len(self.dirs)} rows, {len(self._dir_idx)} distinct)"
            )
        n = len(self.dirs)
        self._stats: dict[str, tuple[list, list, np.ndarray]] = {}
        per_dir_stats = [json.loads(s) for s in table.column("stats_json").to_pylist()]
        cols = {c for s in per_dir_stats for c in s}
        for c in cols:
            mins = [s.get(c, (None, None))[0] for s in per_dir_stats]
            maxs = [s.get(c, (None, None))[1] for s in per_dir_stats]
            known = np.array(
                [m is not None and x is not None for m, x in zip(mins, maxs)]
            )
            self._stats[c] = (mins, maxs, known)
        self._per_dir_stats = per_dir_stats

        bcols = table.column("bloom_cols").to_pylist()
        bnb = table.column("bloom_num_bits").to_pylist()
        flat_col = table.column("bloom_words")
        # ChunkedArray of list<int64> -> one flat numpy + row offsets
        chunks, offsets, base = [], np.zeros(n + 1, dtype=np.int64), 0
        i = 0
        for ch in flat_col.chunks:
            offs = ch.offsets.to_numpy(zero_copy_only=False)
            # a SLICED chunk carries physical offsets into the full
            # child array (offs[0] > 0) — rebase both the values
            # window and the offsets, or probes silently read the
            # wrong bitmap words (false-negative pruning)
            vals = ch.values.to_numpy(zero_copy_only=False)[
                offs[0] : offs[-1]
            ]
            chunks.append(vals)
            k = len(ch)
            offsets[i : i + k + 1] = base + (offs - offs[0])
            base += offs[-1] - offs[0]
            i += k
        self._flat = (
            np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64)
        )
        # per (col): num_bits array + start offset into _flat (−1 = none)
        self._blooms: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        all_bcols = {c for row in bcols for c in row}
        for c in all_bcols:
            nb_arr = np.zeros(n, dtype=np.int64)
            st_arr = np.full(n, -1, dtype=np.int64)
            for i in range(n):
                row_cols, row_nb = bcols[i], bnb[i]
                off = offsets[i]
                for cc, nb in zip(row_cols, row_nb):
                    if cc == c:
                        nb_arr[i] = nb
                        st_arr[i] = off
                        break
                    off += nb // 32
            self._blooms[c] = (nb_arr, st_arr)

    # -- planning probes (vectorized) ----------------------------------
    def range_kept(self, col: str, lo, hi) -> list[str]:
        """Dirs whose [min,max] overlaps [lo,hi]; unknown stats keep."""
        entry = self._stats.get(col)
        if entry is None:
            return list(self.dirs)
        mins, maxs, known = entry
        out = []
        for i, d in enumerate(self.dirs):
            if not known[i]:
                out.append(d)
            elif not (maxs[i] < lo or mins[i] > hi):
                out.append(d)
        return out

    def bloom_kept(self, col: str, probe_for) -> list[str]:
        """Dirs whose bloom might contain the probed value.
        ``probe_for(num_bits) -> [(word, bit)] | None`` (None =
        unprobeable type: keep). Dirs without a bloom for ``col``
        are kept conservatively."""
        entry = self._blooms.get(col)
        n = len(self.dirs)
        if entry is None:
            return list(self.dirs)
        nb_arr, st_arr = entry
        keep = st_arr < 0  # bloomless dirs always kept
        for nb in np.unique(nb_arr[nb_arr > 0]):
            mask = nb_arr == nb
            probe = probe_for(int(nb))
            if probe is None:
                keep |= mask
                continue
            ok = np.ones(int(mask.sum()), dtype=bool)
            starts = st_arr[mask]
            for w, b in probe:
                ok &= ((self._flat.take(starts + w) >> b) & 1).astype(bool)
            idx = np.flatnonzero(mask)
            keep[idx[ok]] = True
        return [self.dirs[i] for i in range(n) if keep[i]]

    # -- slow-path per-dir metadata (rewrite paths) ---------------------
    def stats_of(self, d: str) -> dict:
        i = self._dir_idx.get(d)
        return {} if i is None else self._per_dir_stats[i]

    def bloom_cols_of(self, d: str) -> list[str]:
        i = self._dir_idx.get(d)
        if i is None:
            return []
        return [c for c, (nb, st) in self._blooms.items() if st[i] >= 0]


def load_segment(catalog, path: str) -> Segment:
    local = catalog.fs._local(path)
    if local is not None:
        import pyarrow.parquet as pq

        return Segment(pq.read_table(local))
    import pyarrow as pa

    pdf = catalog.spark.read.parquet(path).toPandas()
    # pin the exact layout: pandas object columns of (possibly empty)
    # lists have nothing to infer element types from
    return Segment(pa.Table.from_pandas(pdf, schema=_segment_schema()))
