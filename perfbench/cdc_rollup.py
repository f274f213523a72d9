"""cdc_rollup: writes beside reads through a 3-tier rollup cascade.

Set-up commits most of the events fixture as v0 of a
``CdfVersionedTable`` and initializes an hour → day → month
``ContinuousRollupCascade`` from it. One op commits one seeded CDF
batch (inserts, deletes and updates on disjoint rows), refreshes the
cascade from that commit's changes, and reads the coarsest tier. Every
second commit is followed by a checkpoint, off the op's own clock.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from . import fixtures as fx
from .probe import dir_bytes, dir_files

# Every 2nd commit, so the two commits of a run include one checkpoint.
CHECKPOINT_EVERY = 2
MID_RUN_CHECK_AT = 1  # row-level check after this commit, and at the end
_CASCADE = dict(
    fine_key="bucket_h",
    coarse_key="bucket_d",
    coarse_expr="date_trunc('day', bucket_h)",
    more_levels=[("bucket_m", "date_trunc('month', bucket_d)")],
)


class CdcRollup:
    name = "cdc_rollup"
    setup_reps = 2
    nominal_cycle_s = 3.0  # half the fastest commit seen on the 4-core reference host

    def __init__(self, ctx):
        self.ctx = ctx
        self.commits: list[dict] = []
        self.checkpoints: list[dict] = []
        self.k = 0

    # -- set-up ------------------------------------------------------

    def prepare(self, rep: int) -> tuple[float, bool]:
        from datafusion_delta_queries_spark.operators.continuous_agg import (
            ContinuousRollupCascade,
        )
        from datafusion_delta_queries_spark.operators.signed_queries import _CASCADE_SQL
        from datafusion_delta_queries_spark.sources.versioned import CdfVersionedTable

        ctx = self.ctx
        spark = ctx.spark
        t0 = time.perf_counter()
        root = os.path.join(ctx.work, f"cdc-rep{rep}")
        plan = fx.cdc_plan(ctx.seed)
        os.makedirs(os.path.join(root, "batches"))
        pq.write_table(plan.base(), os.path.join(root, "base.parquet"))
        self.batch_paths = []
        for k in range(1, plan.max_commits + 1):
            path = os.path.join(root, "batches", f"{k:04d}.parquet")
            pq.write_table(plan.batch(k), path)
            self.batch_paths.append(path)
        base = spark.read.parquet(os.path.join(root, "base.parquet"))
        self.schema = base.schema
        self.table = CdfVersionedTable(os.path.join(root, "events"))
        self.table.write_version(base)
        self.cascade = ContinuousRollupCascade(
            spark, os.path.join(root, "cascade"), _CASCADE_SQL, **_CASCADE
        )
        self.cascade.initialize(self.table.snapshot(spark, 0))
        spent = time.perf_counter() - t0
        self.live = fx.LiveEvents(plan)
        return spent, self._rows_match("set-up")

    def install_tracing(self, tracer) -> None:
        from datafusion_delta_queries_spark.operators.continuous_agg import (
            ContinuousRollupCascade,
        )
        from datafusion_delta_queries_spark.sources.versioned import CdfVersionedTable

        for attr in ("write_version", "changes", "snapshot", "checkpoint"):
            tracer.wrap(CdfVersionedTable, attr, f"sources.versioned.{attr}")
        for attr in ("refresh_signed", "read_coarsest"):
            tracer.wrap(ContinuousRollupCascade, attr, f"operators.continuous_agg.{attr}")

    # -- ops -----------------------------------------------------------

    def cycle(self):
        return (None,)

    def run_op(self, _=None) -> dict:
        ctx = self.ctx
        spark, probe, tracer = ctx.spark, ctx.probe, ctx.tracer
        self.k += 1
        k = self.k
        if k > len(self.batch_paths):
            raise RuntimeError(f"cdc_rollup ran out of seeded batches at commit {k}")
        state_root = self.cascade.root_path
        before = dir_files(state_root) if tracer.enabled else None
        with tracer.span("op.cdc_rollup", commit=k):
            cpu0 = probe.cpu_s()
            t0 = time.perf_counter()
            with probe.job_group(f"commit{k}") as g_commit:
                batch = spark.read.schema(self.schema).parquet(self.batch_paths[k - 1])
                v = self.table.write_version(batch)
            t_commit = time.perf_counter()
            with probe.job_group(f"refresh{k}") as g_refresh:
                if not (ctx.plant == "skip_refresh" and k == 1):
                    self.cascade.refresh_signed(
                        self.table.changes(spark, v - 1, v),
                        base_new_df=self.table.snapshot(spark, v),
                    )
            t_refresh = time.perf_counter()
            with probe.job_group(f"read{k}") as g_read:
                got = tuple(
                    int(x or 0)
                    for x in self.cascade.read_coarsest()
                    .selectExpr(*fx.ROLLUP_CHECKSUM)
                    .collect()[0]
                )
            t_end = time.perf_counter()
        cpu_s = probe.cpu_s() - cpu0
        self.live.apply(pq.read_table(self.batch_paths[k - 1]))
        want = self.live.checksum()
        check_s = time.perf_counter() - t_end
        rec = {
            "kind": "commit",
            "wall": t_end - t0,
            "cpu_s": cpu_s,
            "commit_s": t_commit - t0,
            "refresh_s": t_end - t_commit,
            "ok": got == want,
            "check_s": check_s,
            "reads_input": probe.reads_input(g_commit) and probe.reads_input(g_read),
        }
        refresh = probe.stage_stats(g_refresh)
        stats = dict(refresh)
        for g in (g_commit, g_read):
            for key, n in probe.stage_stats(g).items():
                stats[key] += n
        rec.update(stats)
        if not rec["ok"]:
            ctx.log(f"commit {k}: rollup checksum {got} != expected {want}")
        if tracer.enabled:
            after = dir_files(state_root)
            rec.update(
                refresh_signed_s=t_refresh - t_commit,
                read_s=t_end - t_refresh,
                jobs_per_refresh=refresh["jobs"],
                tasks_per_refresh=refresh["tasks"],
                commit_bytes=dir_bytes(self.table._version_dir(v)),
                commits_folded=self._folded(v),
                state_bytes=sum(size for size, _ in after.values()),
                state_bytes_rewritten=sum(
                    size for p, (size, m) in after.items() if before.get(p) != (size, m)
                ),
            )
        self.commits.append(rec)
        if k == MID_RUN_CHECK_AT:
            t0 = time.perf_counter()
            rec["ok"] &= self._rows_match(f"commit {k}")
            rec["check_s"] += time.perf_counter() - t0
        if k % CHECKPOINT_EVERY == 0:
            self._checkpoint(v)
        return rec

    def _folded(self, v: int) -> int:
        """Commits ``snapshot(v)`` folds on top of its base checkpoint."""
        base = max((c for c in self.table.checkpoints() if c <= v), default=-1)
        return sum(1 for c in self.table.versions() if base < c <= v)

    def _checkpoint(self, v: int) -> None:
        """Background maintenance between ops, off the op's clock."""
        ctx = self.ctx
        with ctx.probe.job_group(f"checkpoint{v}"):
            t0 = time.perf_counter()
            self.table.checkpoint(ctx.spark, v)
            spent = time.perf_counter() - t0
        self.checkpoints.append(
            {"s": spent, "bytes": dir_bytes(self.table._ckpt_dir(v))}
        )

    def _rows_match(self, when: str) -> bool:
        from datafusion_delta_queries_spark.oracle import compare

        ok, msg = compare(self.cascade.read_coarsest(), self.live.rollup())
        if not ok:
            self.ctx.log(f"cdc_rollup rollup differs from DuckDB at {when}: {msg[:300]}")
        return ok

    def final_check(self) -> bool:
        return self._rows_match("end")

    def traced_sweep(self) -> list[dict]:
        return []

    def per_layer(self) -> dict[str, float]:
        recs = [r for r in self.commits if "jobs_per_refresh" in r]
        if not recs:
            return {}

        def med(key):
            return statistics.median(r[key] for r in recs)

        tracer = self.ctx.tracer
        n_snap = tracer.calls("sources.versioned.snapshot") or 1
        commit_bytes = sum(r["commit_bytes"] for r in recs)
        ckpt_bytes = sum(c["bytes"] for c in self.checkpoints)
        written = commit_bytes + sum(r["state_bytes_rewritten"] for r in recs) + ckpt_bytes
        return {
            "sources.versioned.write_version_s": statistics.median(r["commit_s"] for r in recs),
            "sources.versioned.commit_bytes": med("commit_bytes"),
            "sources.versioned.snapshot_s": tracer.total("sources.versioned.snapshot") / n_snap,
            "sources.versioned.commits_folded": med("commits_folded"),
            "sources.versioned.checkpoint_s": (
                statistics.median(c["s"] for c in self.checkpoints) if self.checkpoints else 0.0
            ),
            "sources.versioned.checkpoint_bytes": (
                statistics.median(c["bytes"] for c in self.checkpoints) if self.checkpoints else 0
            ),
            "operators.continuous_agg.refresh_signed_s": med("refresh_signed_s"),
            "operators.continuous_agg.jobs_per_refresh": med("jobs_per_refresh"),
            "operators.continuous_agg.tasks_per_refresh": med("tasks_per_refresh"),
            "operators.continuous_agg.read_s": med("read_s"),
            "operators.continuous_agg.state_bytes": recs[-1]["state_bytes"],
            "operators.continuous_agg.state_bytes_rewritten": med("state_bytes_rewritten"),
            "cdc_rollup.commit_p50_s": med("commit_s"),
            "cdc_rollup.refresh_p50_s": med("refresh_s"),
            "cdc_rollup.write_amp": written / max(commit_bytes, 1),
        }
