"""Zone-map index: file-level min/max statistics as a stored table.

Delta/Iceberg keep per-file column statistics in their transaction
log and prune the FILE LIST before the scan ever starts — one level
above parquet's own row-group skipping (which still has to open every
footer). This module materializes that log as a plain parquet state
table: one row per data file with per-column (min, max, rows).

- ``build()``   — index every file in a table directory. Footer reads
  are driver-side METADATA operations: bytes ∝ file count, never data
  size (the same work a lakehouse writer does once per commit).
- ``refresh()`` — index ONLY files not yet in the state (an append
  batch); existing rows are never re-read or rewritten. This is the
  incremental discipline of every other maintained state here: work
  ∝ |new files|, not |table|.
- ``select_files(box)`` / ``read_pruned(spark, box)`` — the scan-side
  payoff: collect the pruned file list (a metadata collect, ≤ one row
  per file — same documented driver-safe class as the sinks' touched
  partition values) and read only those files, with the box predicate
  re-applied as the residual filter, so false inclusions are
  harmless and correctness never depends on the index.

Pairs with ``layout.zorder_write``: the z-order layout is what makes
these per-file ranges TIGHT on every clustered column; the zone map
is what turns tight ranges into files never opened.

Reference parity: none — the reference has no physical layer
(delta_node.rs:63-109 is a logical marker); this is the
beyond-the-reference 100 TB surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _file_stats(table_dir: str, name: str, columns: list[str]) -> dict:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(table_dir, name))
    names = pf.schema_arrow.names
    idx = {c: names.index(c) for c in columns}
    out: dict = {"file": name, "n_rows": pf.metadata.num_rows}
    mins: dict = {}
    maxs: dict = {}
    for rg in range(pf.metadata.num_row_groups):
        meta = pf.metadata.row_group(rg)
        for c in columns:
            st = meta.column(idx[c]).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"{name} row group {rg} has no statistics for {c} — "
                    f"an unindexable file must fail loudly, not be "
                    f"silently skipped"
                )
            if not isinstance(st.min, int) or isinstance(st.min, bool):
                raise ValueError(
                    f"{c} is not an integer column — this realization "
                    f"indexes integer keys only (extend the state schema "
                    f"for other types)"
                )
            mins[c] = st.min if c not in mins else min(mins[c], st.min)
            maxs[c] = st.max if c not in maxs else max(maxs[c], st.max)
    for c in columns:
        out[f"min_{c}"] = mins[c]
        out[f"max_{c}"] = maxs[c]
    return out


class ZoneMapIndex:
    """A stored file-skipping index over one parquet table directory."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        table_dir: str,
        columns: list[str],
    ) -> None:
        self.spark = spark
        self.state_path = state_path
        self.table_dir = table_dir
        self.columns = columns

    # -- maintenance ----------------------------------------------------

    def _data_files(self) -> list[str]:
        return sorted(
            n
            for n in os.listdir(self.table_dir)
            if n.endswith(".parquet")
        )

    def _stats_df(self, names: list[str]) -> DataFrame:
        rows = [_file_stats(self.table_dir, n, self.columns) for n in names]
        cols = ["file", "n_rows"] + [
            f"{side}_{c}" for c in self.columns for side in ("min", "max")
        ]
        return self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], ", ".join(
                f"`{c}`: {'string' if c == 'file' else 'bigint'}"
                for c in cols
            )
        )

    def build(self) -> int:
        """Index every data file; returns the file count."""
        names = self._data_files()
        if not names:
            raise ValueError(f"no parquet files under {self.table_dir}")
        self._stats_df(names).write.mode("errorifexists").parquet(
            self.state_path
        )
        return len(names)

    def read_state(self) -> DataFrame:
        return self.spark.read.parquet(self.state_path)

    def _names_df(self, names: list[str]) -> DataFrame:
        return self.spark.createDataFrame(
            [(n,) for n in names], "`file`: string"
        )

    def refresh(self) -> int:
        """Index ONLY files that appeared since the last build/refresh
        (append batches); footers of already-indexed files are never
        re-opened and their state rows never rewritten. Returns the
        number of newly indexed files.

        The new-file set is computed by an anti join of the directory
        listing against the state table, so the driver collects
        O(|new files|) names — never the state table. (The listing
        itself is driver-side because this realization sits on a local
        directory; on an object store the commit log IS the listing.)"""
        new = sorted(
            r["file"]
            for r in self._names_df(self._data_files())
            .join(self.read_state().select("file"), "file", "left_anti")
            .collect()
        )
        if new:
            self._stats_df(new).write.mode("append").parquet(self.state_path)
        return len(new)

    def sync(self) -> tuple[int, int]:
        """Reconcile with the directory after a layout change
        (``sinks.compact`` rewrite, a vacuum, a manual delete): drop
        state rows for files that no longer exist and index files that
        appeared. ``refresh()`` alone would leave rows for removed
        files, and a pruned scan would then try to open them — the
        index must never be less safe than no index. Returns
        (files added, stale rows dropped). The state rewrite reads the
        ≤ one-row-per-file table, never the data. Driver traffic on
        this path is bounded by the work about to happen anyway: the
        stale side never leaves the executors (the drop is a semi join
        of the state against the listing, and the driver receives only
        its COUNT); the new side collects exactly the file names whose
        footers the refresh is about to open — the final scan list,
        O(|new|), never O(|table files|)."""
        disk_names = self._data_files()
        disk = self._names_df(disk_names)
        state_files = self.read_state().select("file")
        n_stale = state_files.join(disk, "file", "left_anti").count()
        new = sorted(
            r["file"]
            for r in disk.join(state_files, "file", "left_anti").collect()
        )
        if n_stale:
            # Keep = state ⋉ listing: the stale set is dropped without
            # ever materializing it (no collected list, no isin-literal
            # plan — a million-file vacuum would otherwise build a
            # million-literal predicate on the driver).
            kept = self.read_state().join(disk, "file", "left_semi")
            frames = [kept]
            if new:
                frames.append(self._stats_df(new))
            merged = frames[0]
            for f in frames[1:]:
                merged = merged.unionByName(f)
            from .sinks import staged_swap

            staged_swap(
                self.state_path,
                lambda p: merged.write.mode("overwrite").parquet(p),
            )
        elif new:
            self._stats_df(new).write.mode("append").parquet(
                self.state_path
            )
        return len(new), n_stale

    # -- scan side ------------------------------------------------------

    def select_files(self, box: dict[str, tuple]) -> list[str]:
        """Files whose [min, max] overlaps the box on every constrained
        column — the list a pruned scan opens. Unknown columns fail
        loudly (a typo would otherwise disable pruning silently)."""
        for c in box:
            if c not in self.columns:
                raise ValueError(f"{c} is not indexed (have {self.columns})")
        state = self.read_state()
        pred = " AND ".join(
            f"max_{c} >= {lo} AND min_{c} <= {hi}"
            for c, (lo, hi) in box.items()
        )
        # The overlap predicate evaluates DISTRIBUTED over the state
        # table; the driver receives only the SELECTED file names —
        # O(|files the scan will open|), exactly the traffic the scan
        # itself is about to incur. The full per-file stats never
        # leave the executors.
        rows = state.where(pred).select("file").collect()
        return sorted(r["file"] for r in rows)

    def read_pruned(self, box: dict[str, tuple]) -> DataFrame:
        """Scan only the overlapping files, re-applying the box as the
        residual filter — the index can only SKIP work, never change a
        result. An empty selection returns an empty-but-schemaed scan
        (one file read for schema, filtered to nothing)."""
        names = self.select_files(box)
        residual = " AND ".join(
            f"{c} BETWEEN {lo} AND {hi}" for c, (lo, hi) in box.items()
        )
        if not names:
            all_files = self._data_files()
            return (
                self.spark.read.parquet(
                    os.path.join(self.table_dir, all_files[0])
                )
                .where(residual)
                .where("1 = 0")
            )
        paths = [os.path.join(self.table_dir, n) for n in names]
        return self.spark.read.parquet(*paths).where(residual)
