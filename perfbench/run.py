"""Benchmark runner: one closed-loop client against a fresh engine session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The runner starts the engine's session
on ``local[<cores>]`` and sets the workload up from the seed (both timed
as ``setup_s``). It then runs one untimed warm-up pass, and after it
times ops until ``--seconds`` have elapsed and every op slot of a pass
has been timed at least once; one driver thread issues each op after the
previous one returns. ``pass_s`` sums each slot's median latency.
Outputs of every op, warm-up included, are checked after the timed ops.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The line before it is the environment receipt. With ``--trace 1`` the
timed ops run with per-layer tracing on and the metrics are the
per-layer split (see README.md) instead of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def _hermetic_env(run_root: str) -> None:
    """Keep every file the run writes under ``run_root`` and make the
    engine importable from any working directory, Python workers
    included (they inherit this environment through the JVM)."""
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    os.environ["DATALAKE_SPARK_SCRATCH"] = os.path.join(run_root, "scratch")
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={run_root}/tmp -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _workload(name: str, spark, seed: int):
    if name == "analytics_dedup":
        from perfbench.mix import AnalyticsDedup
        return AnalyticsDedup(spark, seed)
    if name == "lake_hourly":
        from perfbench.lake import LakeHourly
        return LakeHourly(spark, seed)
    raise SystemExit(f"unknown workload {name!r}")


class Tracer:
    """Per-layer collection for ``--trace 1``; inert otherwise."""

    def __init__(self, spark, enabled: bool):
        from perfbench.trace import Spans
        self.enabled = enabled
        self.spans = Spans(enabled)
        self.spark = spark
        self.stats = self.streams = None
        self.undo: list = []
        # per op slot: [wall s, no-stage s]
        self.by_group: dict[str, list[float]] = {}

    def start(self) -> None:
        if not self.enabled:
            return
        from perfbench import trace
        self.undo = trace.install(self.spans)
        self.stats = trace.SparkStats(self.spark)
        self.streams = trace.StreamStats()
        self.spark.streams.addListener(self.streams)

    def after_op(self, group: str, t0: float, t1: float, build) -> None:
        if self.enabled:
            before = self.stats.totals["spark.no_stage_s"]
            self.stats.poll(t0, t1, build)
            acc = self.by_group.setdefault(group, [0.0, 0.0])
            acc[0] += t1 - t0
            acc[1] += self.stats.totals["spark.no_stage_s"] - before

    def stop(self) -> None:
        if not self.enabled:
            return
        from perfbench import trace
        time.sleep(0.5)  # let the last streaming progress events land
        trace.uninstall(self.undo)
        self.spark.streams.removeListener(self.streams)


def run_op(op, spans, tracer: Tracer | None):
    """Run one op; returns (op, latency_s, out, error). The latency
    excludes the tracer's own polling after the op."""
    from perfbench.common import OpCtx

    ctx = OpCtx(spans)
    t0 = time.time()
    out, err = None, None
    try:
        out = op.run(ctx)
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
        err = f"{type(exc).__name__}: {str(exc)[:300]}"
    t1 = time.time()
    if tracer is not None:
        tracer.after_op(op.group, t0, t1, ctx.build)
    return op, t1 - t0, out, err


def warm_up(workload):
    """The first pass of the session, untimed: the JVM compiles and
    loads most of what a pass runs here, and run-to-run speed of a cold
    pass varies far more than that of warm ones."""
    from perfbench.trace import Spans

    ops = workload.ops()
    quiet = Spans(False)
    return ops, [run_op(next(ops), quiet, None) for _ in range(workload.warmup)]


def measure(ops, groups: tuple[str, ...], tracer: Tracer, seconds: float):
    """Time ops until ``seconds`` have elapsed and every slot of a pass
    has a sample (or the workload runs out of ops)."""
    done = []
    seen: set[str] = set()
    t_start = time.time()
    for op in ops:
        done.append(run_op(op, tracer.spans, tracer))
        seen.add(op.group)
        if time.time() - t_start >= seconds and seen >= set(groups):
            break
    return done


def check(done) -> list[str]:
    """One line per op that raised or returned a wrong result."""
    failures = []
    for op, _, out, err in done:
        reason = err
        if reason is None:
            try:
                reason = op.check(out)
            except Exception as exc:  # noqa: BLE001 - a bad output is a failure
                reason = f"check raised {type(exc).__name__}: {exc}"
        if reason is not None:
            failures.append(f"{op.name}: {reason}")
    return failures


def end_to_end(timed, groups, setup_s: float) -> tuple[dict, dict]:
    from perfbench.common import median_pass, nearest_rank, tail_percentile

    lat = [dt for _, dt, _, _ in timed]
    p = tail_percentile(len(lat))
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median_pass([(op.group, dt) for op, dt, _, _ in timed],
                               groups), "s"),
    }
    # Op latencies are reported, not gated: one slot's latency varies
    # more between runs on a shared host than a sum of slots does.
    return metrics, {"op_p50_s": statistics.median(lat),
                     "op_tail_s": nearest_rank(lat, p),
                     "tail_percentile": p, "op_samples": len(lat),
                     "timed_passes": len(timed) / len(groups),
                     "op_latencies_s": [[op.name, round(dt, 3)]
                                        for op, dt, _, _ in timed]}


def per_layer(workload, tracer: Tracer, timed, pyworker_s: float,
              leaked: int, retained_mb: float, failed_frac: float) -> dict:
    """Per-layer totals, each per pass: over the timed ops, scaled by the
    number of passes they make up."""
    from perfbench.common import median_pass
    from perfbench.trace import OPERATORS

    n = len(timed) / len(workload.groups)
    pass_s = median_pass([(op.group, dt) for op, dt, _, _ in timed],
                         workload.groups)
    spans, tot, s = tracer.spans, tracer.stats.totals, tracer.streams

    def span_s(name):
        return spans.time[name] / n, "s"

    def span_calls(name):
        return spans.calls[name] / n, "count"

    def total(name, unit):
        return tot[name] / n, unit

    out = {
        "queries.build_s": span_s("queries.build"),
        "queries.build_jobs": total("queries.build_jobs", "count"),
        "spark.no_stage_s": total("spark.no_stage_s", "s"),
        "spark.no_stage_frac": (tot["spark.no_stage_s"] / n / pass_s, "ratio"),
        "spark.jobs": total("spark.jobs", "count"),
        "spark.stages": total("spark.stages", "count"),
        "spark.tasks": total("spark.tasks", "count"),
        "spark.task_run_s": total("spark.task_run_s", "s"),
        "spark.task_cpu_s": total("spark.task_cpu_s", "s"),
        "spark.gc_s": total("spark.gc_s", "s"),
        "spark.shuffle_write_mb": total("spark.shuffle_write_mb", "MB"),
        "spark.shuffle_read_mb": total("spark.shuffle_read_mb", "MB"),
        "spark.spill_mb": total("spark.spill_mb", "MB"),
        "spark.input_mb": total("spark.input_mb", "MB"),
        "spark.storage_mb_after_op":
            (max(tracer.stats.storage_after_op_mb, default=0.0), "MB"),
        "tuning.s": span_s("tuning"),
        "tuning.calls": span_calls("tuning"),
        "pyworker.cpu_s": (pyworker_s / n, "s"),
        "streaming.drains": span_calls("streaming.drain"),
        "streaming.drain_s": span_s("streaming.drain"),
        "streaming.batches": (s.batches / n, "count"),
        "streaming.batch_ms": (s.batch_ms / n, "ms"),
        "streaming.state_commit_ms": (s.state_commit_ms / n, "ms"),
        "pipeline.run_s": span_s("pipeline.run"),
        "sources.ingest_records_s": span_s("sources.ingest_records"),
        "lake.write_s": span_s("lake.write"),
        "lake.writes": span_calls("lake.write"),
        "lake.latest_run_before_s": span_s("lake.latest_run_before"),
        "lake.read_s": span_s("lake.read"),
        "manifest_lake.upsert_s": span_s("manifest_lake.upsert"),
        "manifest_lake.scan_usage_s": span_s("manifest_lake.scan_usage"),
        "manifest_lake.commits": span_calls("manifest_lake.commit"),
        "retained_storage_mb": (retained_mb, "MB"),
        "leaked_tables": (leaked / n, "count"),
        "failed_frac": (failed_frac, "ratio"),
        "trace.pass_s": (pass_s, "s"),
    }
    for fn in OPERATORS:
        out[f"operators.{fn}.s"] = span_s(f"operators.{fn}")
    out.update({"queries.no_stage_frac": (0.0, "ratio"),
                "operators.no_stage_frac": (0.0, "ratio"),
                "lake.files_written": (0.0, "count"),
                "lake.bytes_written_mb": (0.0, "MB"),
                "lake_files_per_run": (0.0, "count"),
                "lake_bytes_per_input_byte": (0.0, "ratio"),
                "manifest_lake.files_scanned_frac": (0.0, "ratio")})
    for family, groups in getattr(workload, "families", {}).items():
        wall, no_stage = (sum(tracer.by_group.get(g, (0.0, 0.0))[i] for g in groups)
                          for i in (0, 1))
        out[f"{family}.no_stage_frac"] = (no_stage / wall if wall else 0.0, "ratio")
    if hasattr(workload, "layer_metrics"):
        out.update(workload.layer_metrics(n))
    return out


def _end_jvm(proc) -> None:
    """Wait for the JVM, and with it the Python workers it started, to
    exit; it exits when its stdin closes."""
    if not proc.stdin.closed:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop(spark) -> None:
    sc = spark.sparkContext
    proc = sc._gateway.proc
    try:
        spark.stop()
        sc._gateway.shutdown()
    finally:
        _end_jvm(proc)


def _remove(run_root: str, runs_dir: str) -> None:
    shutil.rmtree(run_root, ignore_errors=True)
    try:
        os.rmdir(runs_dir)
    except OSError:
        pass  # another run still uses it


def _session_tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datalake_project_spark")):
        print("perfbench: the engine package is not in this checkout",
              file=sys.stderr)
        return 2

    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    jvm = []

    def on_sigterm(*_) -> None:
        # A terminated run still ends the JVM and removes its files. The
        # main thread may be inside a py4j call, so clean up here and
        # leave without unwinding it.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        for proc in jvm:
            _end_jvm(proc)
        _remove(run_root, runs_dir)
        os._exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    spark = None
    try:
        _hermetic_env(run_root)
        from perfbench import common

        load_start = common.host_load()
        t0 = time.perf_counter()
        from datalake_project_spark.session import get_spark
        spark = get_spark(f"perfbench-{args.workload}")
        jvm.append(spark.sparkContext._gateway.proc)
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        workload = _workload(args.workload, spark, args.seed)
        builds = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.setup(os.path.join(run_root, f"setup{i}"))
            builds.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(builds)
        workload.prepare_checks()

        ops, warm = warm_up(workload)
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.start()
        if args.trace:
            tables0 = _session_tables(spark)
            cpu0 = common.pyworker_cpu_seconds(jvm_pid)
        timed = measure(ops, workload.groups, tracer, args.seconds)
        if args.trace:
            pyworker_s = common.pyworker_cpu_seconds(jvm_pid) - cpu0
            tracer.stop()
            leaked = len(_session_tables(spark) - tables0)
            retained = tracer.stats.storage_mb()

        failures = check(warm + timed)
        attempted = len(warm) + len(timed)
        load_end = common.host_load()
        metrics, timings = end_to_end(timed, workload.groups, setup_s)
        if args.trace:
            metrics = per_layer(workload, tracer, timed, pyworker_s, leaked,
                                retained, len(failures) / attempted)

        receipt = common.environment(spark, args.seed, args.workload,
                                     workload.describe(), load_start, load_end)
        receipt.update(timings)
        receipt["warm_up_s"] = sum(dt for _, dt, _, _ in warm)
        receipt["trace"] = args.trace
        receipt["session_start_s"] = session_s
        receipt["setup_builds_s"] = builds
        receipt["failures"] = failures
        print(json.dumps({"receipt": receipt}))
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        _remove(run_root, runs_dir)


if __name__ == "__main__":
    sys.exit(main())
