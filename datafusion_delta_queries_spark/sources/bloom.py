"""Bloom-filter file-skipping index: per-file membership filters as a
stored table.

The zone map (``zonemap.py``) prunes RANGE predicates, but it is
useless for a point lookup on a high-cardinality key the layout is
NOT sorted by: every file's [min, max] spans nearly the whole key
domain, so no file is skipped even though a unique key lives in
exactly one of them. Delta Lake solves this with per-file Bloom
filters; this module materializes the same idea as a plain parquet
state table with the sparse layout (file, word, bits):

- each data file gets an m-bit filter stored as only its NON-ZERO
  64-bit words — state size ∝ distinct probe bits set, never m;
- build/refresh are DISTRIBUTED Spark jobs (unlike the zone map's
  driver-side footer reads, a Bloom filter must see the data):
  ``input_file_name()`` keys each row to its file, k seeded
  ``xxhash64`` probes explode to (file, word, mask) and a
  ``bit_or`` groupBy folds them — one shuffle whose width is the
  state table, not the data;
- ``refresh()`` reads ONLY files not yet in the state (an append
  batch); ``sync()`` reconciles after compaction/vacuum. Same
  incremental discipline as ``ZoneMapIndex``: work ∝ |new files|;
- ``select_files(value)`` probes the k (word, mask) pairs against
  the state DISTRIBUTED (broadcast of k rows, never a state
  collect); the driver receives only the CANDIDATE file names —
  O(|files the scan will open|), i.e. ~1 + false positives for a
  unique key. ``read_pruned`` re-applies the equality predicate as
  the residual filter, so false positives are harmless and
  correctness never depends on the filter (no false negatives by
  construction: a key's probes are all present in the file that
  holds it).

Sizing: with the default m = 2^17 bits and k = 5 probes, a 10k-row
file sits at kn/m ≈ 0.38 → false-positive rate ≈ (1-e^-0.38)^5
≈ 0.3% — at 100 TB / ~1M files a unique-key lookup opens ~1 file
plus ~0.3% of the rest; raise ``m_bits`` per-file-rows to hold the
rate. The probe hashes are computed with the SAME Spark
``xxhash64(cast bigint, seed)`` expression at build and lookup time,
so there is no cross-implementation hash-mismatch risk.

Reference parity: none — the reference has no physical layer
(delta_node.rs:63-109 is a logical marker); this is the
beyond-the-reference 100 TB surface, paired with ``zonemap.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BloomFileIndex:
    """A stored per-file Bloom filter over one integer key column."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        table_dir: str,
        column: str,
        m_bits: int | None = None,
        k: int = 5,
    ) -> None:
        """``m_bits=None`` (default) auto-sizes the per-file filter at
        ``build()`` time to ~10 bits per row-per-file (≈1% false
        positives at k=5) and PERSISTS the chosen (m, k) in a sidecar
        inside the state directory — a filter's probe geometry is part
        of its state, so a handle reopened later (or at a different
        default) keeps probing the bits the build wrote. An explicit
        ``m_bits`` pins the size (power of two)."""
        if m_bits is not None and m_bits & (m_bits - 1):
            raise ValueError(f"m_bits must be a power of two, got {m_bits}")
        if not 1 <= k <= 16:
            raise ValueError(f"k must be in [1, 16], got {k}")
        self.spark = spark
        self.state_path = state_path
        self.table_dir = table_dir
        self.column = column
        self.m_bits = m_bits
        self.k = k
        self._load_meta()

    # -- probe-geometry sidecar -----------------------------------------

    _META = "_bloom_meta.json"

    def _meta_path(self) -> str:
        # SIBLING of the state dir, not inside it: sync()'s stale path
        # rewrites state_path with mode("overwrite"), which wipes the
        # directory's contents — a crash between that overwrite and a
        # sidecar restore would lose the probe geometry (every reopen
        # would raise, or probe with the wrong (m_bits, k)). A sibling
        # file is never touched by the data rewrite.
        return self.state_path.rstrip("/") + ".meta.json"

    def _legacy_meta_path(self) -> str:
        # pre-r11 layout kept the sidecar inside the state dir
        return os.path.join(self.state_path, self._META)

    def _load_meta(self) -> None:
        import json

        path = self._meta_path()
        if not os.path.exists(path):
            path = self._legacy_meta_path()
        if os.path.exists(path):
            with open(path) as f:
                saved = json.load(f)
            self.m_bits = int(saved["m_bits"])
            self.k = int(saved["k"])

    def _save_meta(self) -> None:
        import json

        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"m_bits": self.m_bits, "k": self.k}, f)
        os.replace(tmp, self._meta_path())

    def _ensure_sized(self, names: list[str]) -> None:
        """Pick m for ~10 bits per row-per-file (fp ≈ 1% at k=5),
        clamped to [2^14, 2^24] words of budget. Row counts come from
        parquet footers — metadata only, never a data pass."""
        if self.m_bits is not None:
            return
        import pyarrow.parquet as pq

        rows = sum(
            pq.ParquetFile(
                os.path.join(self.table_dir, n)
            ).metadata.num_rows
            for n in names
        )
        per_file = max(1, rows // max(1, len(names)))
        m = 1 << 14
        while m < per_file * 10 and m < (1 << 24):
            m <<= 1
        self.m_bits = m

    # -- probe expressions (shared by build and lookup) -----------------

    def _probe_exprs(self, key_expr: str) -> list[tuple]:
        """k (word, mask) column pairs for one key expression. The key
        is cast to BIGINT first so a literal lookup value and the
        stored column hash identically regardless of physical type;
        the probe family is xxhash64 over (key, i) — same fixed-seed
        function, k distinct salts."""
        if self.m_bits is None:
            self._load_meta()
        if self.m_bits is None:
            raise ValueError(
                "filter size unknown — build() the index first (or pass "
                "m_bits explicitly)"
            )
        out = []
        for i in range(self.k):
            bit = (
                f"pmod(xxhash64(CAST({key_expr} AS BIGINT), {i}), "
                f"{self.m_bits})"
            )
            word = F.expr(f"CAST(({bit}) div 64 AS INT)")
            mask = F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(({bit}) % 64 AS INT))"
            )
            out.append((word, mask))
        return out

    def _filter_frame(self, df: DataFrame) -> DataFrame:
        """(file, word, bits) sparse filter rows for a batch of data.
        One explode + one groupBy: the shuffle carries at most
        k·|rows| tiny triples and reduces to the non-zero words."""
        from pyspark.sql import types as T

        dt = df.schema[self.column].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"{self.column} is {dt.simpleString()}, not an integer "
                f"column — the BIGINT probe cast would hash NULLs "
                f"silently (extend the probe family for other types)"
            )
        probes = F.array(
            *[
                F.struct(word.alias("word"), mask.alias("mask"))
                for word, mask in self._probe_exprs(self.column)
            ]
        )
        return (
            df.select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("file"),
                F.explode(probes).alias("p"),
            )
            .groupBy("file", F.col("p.word").alias("word"))
            .agg(F.bit_or("p.mask").alias("bits"))
        )

    # -- maintenance ----------------------------------------------------

    def _data_files(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.table_dir) if n.endswith(".parquet")
        )

    def _names_df(self, names: list[str]) -> DataFrame:
        return self.spark.createDataFrame(
            [(n,) for n in names], "`file`: string"
        )

    def _read_files(self, names: list[str]) -> DataFrame:
        return self.spark.read.parquet(
            *[os.path.join(self.table_dir, n) for n in names]
        ).select(self.column)

    def build(self) -> int:
        """Index every data file; returns the file count."""
        names = self._data_files()
        if not names:
            raise ValueError(f"no parquet files under {self.table_dir}")
        self._ensure_sized(names)
        self._filter_frame(self._read_files(names)).write.mode(
            "errorifexists"
        ).parquet(self.state_path)
        self._save_meta()
        return len(names)

    def read_state(self) -> DataFrame:
        return self.spark.read.parquet(self.state_path)

    def refresh(self) -> int:
        """Index ONLY files that appeared since the last build/refresh;
        already-indexed files are never re-read and their state rows
        never rewritten. The new-file set comes from an anti join of
        the directory listing against the state, so the driver
        collects O(|new files|) names — never the state table."""
        new = sorted(
            r["file"]
            for r in self._names_df(self._data_files())
            .join(self.read_state().select("file").distinct(),
                  "file", "left_anti")
            .collect()
        )
        if new:
            self._filter_frame(self._read_files(new)).write.mode(
                "append"
            ).parquet(self.state_path)
        return len(new)

    def sync(self) -> tuple[int, int]:
        """Reconcile with the directory after a layout change: drop
        state rows for files that no longer exist and index files that
        appeared. Returns (files added, stale files dropped). Driver
        traffic is bounded by the work about to happen anyway: the
        stale side never leaves the executors (the drop is a semi join
        of the state against the listing; the driver receives only its
        COUNT), and the new side collects exactly the names whose rows
        the rebuild is about to scan — the final scan list, O(|new|).
        The filter words themselves never leave the executors."""
        disk_names = self._data_files()
        disk = self._names_df(disk_names)
        state_files = self.read_state().select("file").distinct()
        n_stale = state_files.join(disk, "file", "left_anti").count()
        new = sorted(
            r["file"]
            for r in disk.join(state_files, "file", "left_anti").collect()
        )
        if n_stale:
            # Keep = state ⋉ listing — no collected stale list, no
            # isin-literal predicate built on the driver.
            kept = self.read_state().join(disk, "file", "left_semi")
            frames = [kept]
            if new:
                frames.append(self._filter_frame(self._read_files(new)))
            merged = frames[0]
            for f in frames[1:]:
                merged = merged.unionByName(f)
            from .sinks import staged_swap

            staged_swap(
                self.state_path,
                lambda p: merged.write.mode("overwrite").parquet(p),
            )
        elif new:
            self._filter_frame(self._read_files(new)).write.mode(
                "append"
            ).parquet(self.state_path)
        # the sidecar lives OUTSIDE the state dir (see _meta_path), so
        # the stale-path overwrite cannot wipe it; this save is only
        # needed to migrate a legacy inside-the-dir sidecar forward
        self._save_meta()
        return len(new), n_stale

    # -- scan side ------------------------------------------------------

    def _probe_rows(self, value: int) -> DataFrame:
        """The k (word, mask) pairs for one literal key, computed with
        the SAME seeded-xxhash64 expression the build used — a 1×k
        Spark frame, so build and lookup can never disagree on the
        hash function."""
        probe = self.spark.range(1).select(F.lit(int(value)).alias("v"))
        pairs = self._probe_exprs("v")
        frames = [
            probe.select(word.alias("word"), mask.alias("mask"))
            for word, mask in pairs
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def select_files(self, value: int) -> list[str]:
        """Files that MIGHT contain ``value``: every one of the k probe
        bits is set in the file's filter. Files with a missing word
        row fail that probe by construction (sparse state). The k
        probe rows broadcast against the state; the driver receives
        only the candidate names."""
        probes = self._probe_rows(value)
        hits = (
            self.read_state()
            .join(F.broadcast(probes), "word")
            .where((F.col("bits").bitwiseAND(F.col("mask"))) != 0)
            .groupBy("file")
            .agg(F.count("*").alias("n_hits"))
            .where(F.col("n_hits") == self.k)
            .select("file")
        )
        return sorted(r["file"] for r in hits.collect())

    def read_pruned(self, value: int) -> DataFrame:
        """Scan only the candidate files, re-applying the equality as
        the residual filter — the filter can only SKIP work, never
        change a result. An empty candidate set returns an
        empty-but-schemaed scan."""
        names = self.select_files(value)
        residual = F.col(self.column) == int(value)
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
