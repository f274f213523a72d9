"""delta_chain: the paper's own path, ΔQ of inner-join chains.

One op is one view's positive delta query built anew through
``delta_of_sql`` (SQL → ``sql_to_ir`` → ``rewrite_pos_delta`` →
``compile_delta``) and consumed by an order-insensitive checksum that
DuckDB computes for the same view over ``new EXCEPT ALL old``.
"""

from __future__ import annotations

import os
import statistics
import time

from . import fixtures as fx
from .probe import force_plan, plan_shape

# Depths of one loop cycle. Depths 5 and 6 (≈2x and ≈5x depth 4)
# run in the traced depth sweep only, to keep a run inside its budget.
LOOP_DEPTHS = (2, 3, 4)


class _Collected:
    """Adapter so ``oracle.compare`` reuses rows already collected."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _ir_shape(plan) -> tuple[int, int]:
    """(joins, leaves) of a rewritten IR tree."""
    from datafusion_delta_queries_spark.plans.nodes import CrossJoin, Join

    joins = leaves = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        kids = node.children
        joins += isinstance(node, (Join, CrossJoin))
        leaves += not kids
        stack.extend(kids)
    return joins, leaves


class DeltaChain:
    name = "delta_chain"
    setup_reps = 3
    nominal_cycle_s = 3.0  # the fastest d2..d4 cycle seen on the 4-core reference host

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: dict[int, list[dict]] = {d: [] for d in fx.DEPTHS}
        self.full_s: dict[int, float] = {}

    # -- set-up ------------------------------------------------------

    def prepare(self, rep: int) -> tuple[float, bool]:
        """Fixtures plus a row-checked depth-2 warm-up op. Returns the
        seconds of set-up work (oracle time excluded) and the check."""
        ctx = self.ctx
        t0 = time.perf_counter()
        tables = fx.chain_tables(ctx.seed)
        sf_dir = os.path.join(ctx.work, f"chain-rep{rep}")
        fx.write_tables(tables, sf_dir)
        self.preds = fx.delta_predicates(ctx.seed)
        self.engine_preds = dict(self.preds)
        if ctx.plant == "bad_predicates":
            # a different slice of the same size: disagrees with the oracle
            self.engine_preds["orders"] = self.preds["orders"].replace("= 0", "= 1")
        self.sf_dir = sf_dir
        pdf = self._delta_df(2).toPandas()
        spent = time.perf_counter() - t0

        from datafusion_delta_queries_spark.oracle import compare

        self.expected = fx.chain_expected(tables, self.preds, ctx.seed)
        ok, msg = compare(_Collected(pdf), fx.chain_oracle_frame(tables, self.preds, 2))
        if not ok:
            ctx.log(f"delta_chain warm-up d2 differs from DuckDB: {msg[:300]}")
        self.tables = tables
        return spent, ok

    def install_tracing(self, tracer) -> None:
        from datafusion_delta_queries_spark.plans import compiler, sql_frontend

        def ir_counts(span, out):
            span["ir_joins"], span["ir_leaves"] = _ir_shape(out)

        tracer.wrap(sql_frontend, "sql_to_ir", "plans.sql_frontend.sql_to_ir")
        tracer.wrap(sql_frontend, "compile_delta", "plans.compiler.compile_delta")
        tracer.wrap(compiler, "rewrite_pos_delta", "plans.rewrite.rewrite_pos_delta",
                    after=ir_counts)

    # -- ops -----------------------------------------------------------

    def _delta_df(self, depth: int):
        from datafusion_delta_queries_spark.plans.sql_frontend import delta_of_sql

        return delta_of_sql(
            self.ctx.spark, self.sf_dir, fx.view_sql(depth), self.engine_preds
        )

    def cycle(self):
        return LOOP_DEPTHS

    def run_op(self, depth: int) -> dict:
        """One view's ΔQ, built anew, consumed by the checksum."""
        ctx = self.ctx
        tracer = ctx.tracer
        aggs = fx.checksum_exprs(fx.view_columns(depth), ctx.seed)
        with ctx.probe.job_group(f"d{depth}") as gid, tracer.span(
            "op.delta_chain", depth=depth
        ):
            cpu0 = ctx.probe.cpu_s()
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                agg = self._delta_df(depth).selectExpr(*aggs)
            t_build = time.perf_counter()
            if tracer.enabled:
                with tracer.span("spark.plan"):
                    force_plan(agg)
            t_plan = time.perf_counter()
            with tracer.span("spark.exec"):
                got = tuple(int(v or 0) for v in agg.collect()[0])
            t_end = time.perf_counter()
        rec = {
            "kind": f"d{depth}",
            "wall": t_end - t0,
            "cpu_s": ctx.probe.cpu_s() - cpu0,
            "ok": got == self.expected[depth],
            **ctx.probe.stage_stats(gid),
        }
        rec["reads_input"] = rec["input_rows"] > 0
        if not rec["ok"]:
            ctx.log(f"d{depth} checksum {got} != oracle {self.expected[depth]}")
        if tracer.enabled:
            joins, scans = plan_shape(agg)
            rec.update(
                build_s=t_build - t0,
                plan_s=t_plan - t_build,
                exec_s=t_end - t_plan,
                joins=joins,
                scans=scans,
                out_rows=got[0],
            )
            ir = [s for s in tracer.spans if s["name"] == "plans.rewrite.rewrite_pos_delta"]
            rec["ir_joins"], rec["ir_leaves"] = ir[-1]["ir_joins"], ir[-1]["ir_leaves"]
            parse = [s for s in tracer.spans if s["name"] == "plans.sql_frontend.sql_to_ir"]
            rec["parse_s"] = parse[-1]["end"] - parse[-1]["start"]
            self.samples[depth].append(rec)
        return rec

    # -- traced extras -----------------------------------------------

    def traced_sweep(self) -> list[dict]:
        """Depth sweep 2..6 beside the full recompute of the same view;
        returns the checked records."""
        from datafusion_delta_queries_spark.plans.sql_frontend import full_of_sql

        ctx = self.ctx
        recs = []
        full_expected = fx.chain_expected(self.tables, self.preds, ctx.seed, full=True)
        for depth in fx.DEPTHS:
            ctx.tracer.op = f"sweep-d{depth}"
            if depth not in LOOP_DEPTHS:
                recs.append(self.run_op(depth))
            aggs = fx.checksum_exprs(fx.view_columns(depth), ctx.seed)
            with ctx.tracer.span("reference.full_of_sql", depth=depth):
                t0 = time.perf_counter()
                got = full_of_sql(
                    ctx.spark, self.sf_dir, fx.view_sql(depth), self.engine_preds
                ).selectExpr(*aggs).collect()[0]
                self.full_s[depth] = time.perf_counter() - t0
            ok = tuple(int(v or 0) for v in got) == full_expected[depth]
            if not ok:
                ctx.log(f"full recompute d{depth} differs from DuckDB")
            recs.append({"kind": f"full-d{depth}", "wall": self.full_s[depth], "ok": ok})
        return recs

    def final_check(self) -> bool:
        return True

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        parse = []
        for d in fx.DEPTHS:
            recs = self.samples[d]
            if not recs:
                continue

            def med(key):
                return statistics.median(r[key] for r in recs)

            parse += [r["parse_s"] for r in recs]
            out[f"plans.rewrite.ir_joins.d{d}"] = recs[-1]["ir_joins"]
            out[f"plans.rewrite.ir_leaves.d{d}"] = recs[-1]["ir_leaves"]
            out[f"plans.compiler.build_s.d{d}"] = med("build_s")
            out[f"spark.plan.plan_s.d{d}"] = med("plan_s")
            out[f"spark.plan.joins.d{d}"] = recs[-1]["joins"]
            out[f"spark.plan.scans.d{d}"] = recs[-1]["scans"]
            out[f"spark.exec.exec_s.d{d}"] = med("exec_s")
            out[f"spark.exec.shuffle_bytes.d{d}"] = med("shuffle_write_bytes")
            out[f"spark.exec.rows_scanned_per_out_row.d{d}"] = statistics.median(
                r["input_rows"] / max(r["out_rows"], 1) for r in recs
            )
            wall = med("wall")
            if d in self.full_s:
                out[f"reference.full_recompute_s.d{d}"] = self.full_s[d]
                out[f"reference.delta_over_full.d{d}"] = wall / self.full_s[d]
            if d in (2, 6):
                out[f"delta_chain.refresh_d{d}_s"] = wall
        if parse:
            out["plans.sql_frontend.parse_s"] = statistics.median(parse)
        return out
