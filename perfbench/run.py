"""Benchmark entry point for the incremental delta-query engine.

    python3 perfbench/run.py --workload delta_chain --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds seeded inputs under
``perfbench/_run/`` (removed afterwards), starts one local Spark session
with ``local[<nproc>]``, prepares the workload, runs a closed loop of
timed ops with one client for ``--seconds`` (whole cycles), checks every
op against DuckDB, and prints one JSON object as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (which also writes spans and counts to ``perfbench/_out/``).
Exit code 0 only when every op and every check was correct. See
README.md for the metrics and workloads.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "datafusion_delta_queries_spark", "__init__.py")

DRIVER_HEAP = "2g"
RUN_LIMIT_S = 170  # hard stop, below the 180 s a run may take
MAX_CONSECUTIVE_ERRORS = 3

END_TO_END = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "input_rows_per_op": "count",
    "driver_mem_mb": "MB",
}

_DEPTHS = (2, 3, 4, 5, 6)
PER_LAYER = {
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.input_rows": "count",
    "op_cpu_p50_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "ops/min",
    "plans.sql_frontend.parse_s": "s",
    **{f"plans.rewrite.ir_joins.d{d}": "count" for d in _DEPTHS},
    **{f"plans.rewrite.ir_leaves.d{d}": "count" for d in _DEPTHS},
    **{f"plans.compiler.build_s.d{d}": "s" for d in _DEPTHS},
    **{f"spark.plan.plan_s.d{d}": "s" for d in _DEPTHS},
    **{f"spark.plan.joins.d{d}": "count" for d in _DEPTHS},
    **{f"spark.plan.scans.d{d}": "count" for d in _DEPTHS},
    **{f"spark.exec.exec_s.d{d}": "s" for d in _DEPTHS},
    **{f"spark.exec.shuffle_bytes.d{d}": "bytes" for d in _DEPTHS},
    **{f"spark.exec.rows_scanned_per_out_row.d{d}": "ratio" for d in _DEPTHS},
    **{f"reference.full_recompute_s.d{d}": "s" for d in _DEPTHS},
    **{f"reference.delta_over_full.d{d}": "ratio" for d in _DEPTHS},
    "delta_chain.refresh_d2_s": "s",
    "delta_chain.refresh_d6_s": "s",
    "sources.versioned.write_version_s": "s",
    "sources.versioned.commit_bytes": "bytes",
    "sources.versioned.snapshot_s": "s",
    "sources.versioned.commits_folded": "count",
    "sources.versioned.checkpoint_s": "s",
    "sources.versioned.checkpoint_bytes": "bytes",
    "operators.continuous_agg.refresh_signed_s": "s",
    "operators.continuous_agg.jobs_per_refresh": "count",
    "operators.continuous_agg.tasks_per_refresh": "count",
    "operators.continuous_agg.read_s": "s",
    "operators.continuous_agg.state_bytes": "bytes",
    "operators.continuous_agg.state_bytes_rewritten": "bytes",
    "cdc_rollup.commit_p50_s": "s",
    "cdc_rollup.refresh_p50_s": "s",
    "cdc_rollup.write_amp": "ratio",
}

PLANTS = ("bad_predicates", "skip_refresh")


@dataclass
class Ctx:
    spark: object
    probe: object
    tracer: object
    seed: int
    work: str
    plant: str | None

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("delta_chain", "cdc_rollup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant", choices=PLANTS, default=None,
                   help="self-test only: plant a defect the checks must catch")
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Keep every scratch file of Python, Spark and the JVM in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # Every JVM the launcher starts: temp files here, no /tmp/hsperfdata,
    # and JIT compiler threads that live as long as the JVM, so the CPU
    # they used can be told apart from the rest (probe.cpu_s).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_SPARK_CONF"] = (
        f"spark.local.dir={os.path.join(work, 'local')};"
        "spark.ui.showConsoleProgress=false"
    )


class _Jvm:
    """Owns the Spark session and its JVM process; ``stop`` waits for
    the JVM to exit."""

    def __init__(self):
        self.spark = None
        self.proc = None

    def start(self):
        from datafusion_delta_queries_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=_nproc())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
        finally:
            self.spark = None
            self._reap()

    def _reap(self) -> None:
        if self.proc is None:
            return
        if self.proc.stdin:
            self.proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc = None


def _watchdog(jvm: _Jvm) -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s, stopping", file=sys.stderr, flush=True)
        if jvm.proc is not None:
            jvm.proc.kill()
            jvm.proc.wait()
        os._exit(3)

    timer = threading.Timer(RUN_LIMIT_S - (time.perf_counter() - T_PROCESS), fire)
    timer.daemon = True
    timer.start()
    return timer


def _timed_loop(wl, ctx, seconds: float):
    """Closed loop, one client, whole cycles: at least as many as
    ``seconds`` holds at the workload's nominal cycle time (so a run's op
    sequence does not depend on host speed), and more while fewer than
    ``seconds`` have elapsed. Oracle-check time is off the clock."""
    min_cycles = max(1, math.ceil(seconds / wl.nominal_cycle_s))
    recs, cycles, consecutive_errors = [], 0, 0
    t0 = time.perf_counter()
    check_s = 0.0
    while cycles < min_cycles or time.perf_counter() - t0 - check_s < seconds:
        for item in wl.cycle():
            ctx.tracer.op = f"op{len(recs)}"
            gc0 = ctx.probe.gc_s() if ctx.tracer.enabled else 0.0
            try:
                rec = wl.run_op(item)
                consecutive_errors = 0
            except Exception as exc:  # an op that raises counts as failed
                ctx.log(f"op {len(recs)} raised {type(exc).__name__}: {str(exc)[:300]}")
                rec = {"kind": "error", "wall": 0.0, "cpu_s": 0.0, "ok": False,
                       "reads_input": True}
                consecutive_errors += 1
            if ctx.tracer.enabled:
                rec["gc_s"] = ctx.probe.gc_s() - gc0
            if not rec["reads_input"]:
                ctx.log(f"op {len(recs)} read no input rows (reused shuffle output?)")
                rec["ok"] = False
            check_s += rec.get("check_s", 0.0)
            ctx.log(f"op {len(recs)} {rec['kind']} {rec['wall']:.3f} s "
                    f"cpu {rec['cpu_s']:.3f} s ok={rec['ok']}")
            recs.append(rec)
            if consecutive_errors >= MAX_CONSECUTIVE_ERRORS:
                return recs, time.perf_counter() - t0 - check_s
        cycles += 1
    ctx.tracer.op = None
    return recs, time.perf_counter() - t0 - check_s


def _cpu_probe_s() -> float:
    """CPU seconds of a fixed pure-Python loop: how fast this host's cores
    run right now, recorded beside the load averages."""
    t0 = time.process_time()
    total = 0
    for i in range(2_000_000):
        total += i
    return time.process_time() - t0


def _host(spark, load_before, probe_before) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": _nproc(),
        "master": spark.sparkContext.master,
        "driver_heap": conf.get("spark.driver.memory"),
        "spark": spark.version,
        "python": platform.python_version(),
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        "cpu_probe_s_before": probe_before,
        "cpu_probe_s_after": _cpu_probe_s(),
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import cdc_rollup, delta_chain
    from perfbench.probe import SparkProbe
    from perfbench.trace import Tracer

    workloads = {"delta_chain": delta_chain.DeltaChain, "cdc_rollup": cdc_rollup.CdcRollup}
    # SIGTERM unwinds like an exception, so the JVM is reaped below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before = list(os.getloadavg())
    probe_before = _cpu_probe_s()
    work = os.path.join(HERE, "_run", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _isolate(work)
    jvm = _Jvm()
    timer = _watchdog(jvm)
    tracer = Tracer(bool(args.trace))
    try:
        spark = jvm.start()
        session_start_s = time.perf_counter() - T_PROCESS
        ctx = Ctx(spark, SparkProbe(spark), tracer, args.seed, work, args.plant)
        wl = workloads[args.workload](ctx)
        wl.install_tracing(tracer)
        tracer.op = "setup"
        reps = [wl.prepare(r) for r in range(wl.setup_reps)]
        ctx.log(f"set-up session {session_start_s:.2f} reps "
                + " ".join(f"{s:.2f}" for s, _ in reps))
        setup_s = session_start_s + statistics.median(s for s, _ in reps)
        setup_ok = all(ok for _, ok in reps)

        recs, loop_wall = _timed_loop(wl, ctx, args.seconds)
        sweep = wl.traced_sweep() if tracer.enabled else []
        final_ok = wl.final_check()
        peak_rss_mb = ctx.probe.peak_rss_mb()
        mem = ctx.probe.live_mb()
        ctx.log("memory MB " + " ".join(f"{k} {v:.1f}" for k, v in mem.items()))
        host = _host(spark, load_before, probe_before)
    finally:
        try:
            tracer.unwrap_all()
            jvm.stop()
        finally:
            timer.cancel()
            shutil.rmtree(work, ignore_errors=True)

    done = [r for r in recs if r["kind"] != "error"]
    failed = sum(not r["ok"] for r in recs + sweep)
    correct = setup_ok and final_ok and failed == 0 and bool(done)
    walls = [r["wall"] for r in done] or [0.0]
    cpus = [r["cpu_s"] for r in done] or [0.0]
    ops_per_min = 60.0 * len(done) / loop_wall
    if tracer.enabled:
        layer = {name: 0 for name in PER_LAYER}
        layer.update(wl.per_layer())
        layer["session.start_s"] = session_start_s
        layer["jvm.peak_rss_mb"] = peak_rss_mb
        for key in ("gc_s", "jobs", "stages", "tasks", "input_rows"):
            vals = [r[key] for r in done if key in r]
            if vals:
                name = "jvm.gc_s" if key == "gc_s" else f"spark.exec.{key}"
                layer[name] = statistics.median(vals)
        layer["op_cpu_p50_s"] = statistics.median(cpus)
        layer["op_p50_s"] = statistics.median(walls)
        layer["ops_per_min"] = ops_per_min
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(
            os.path.join(HERE, "_out", f"trace-{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "host": host,
             "ops": recs, "sweep": sweep, "per_layer": layer},
        )
    else:
        values = {
            "setup_s": setup_s,
            "jobs_per_op": statistics.median(r["jobs"] for r in done),
            "input_rows_per_op": statistics.median(r["input_rows"] for r in done),
            "driver_mem_mb": sum(mem.values()),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print("perfbench host " + json.dumps(host))
    print("perfbench time " + json.dumps({
        "op_p50_s": statistics.median(walls),
        "ops_per_min": ops_per_min,
        "op_cpu_p50_s": statistics.median(cpus),
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": len(recs) + len(sweep),
        "failed": failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
