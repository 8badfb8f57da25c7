"""Layered benchmark for the engine at sf0.1.

    python3 perfbench/run.py --workload reads --seed 1 --seconds 12 --trace 0

Each run starts its own Spark session on ``local[<cores>]``, reads the
sf0.1 input tables under ``perfbench/data``, warms up by running every
operation of the workload once, then runs whole passes of the workload
— a single closed-loop client: ``--seconds`` divided by the workload's
nominal pass time (at least one), so each run does the same work.
``--seed`` orders the operations of every pass and draws the MERGE
change batches; the input tables never change.

Outputs are checked outside the timed region: query outputs against
DuckDB-validated digests in ``expected.json``, the Customer-360 refresh
against invariants. Every failed operation or check is counted.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see
BENCHMARK.json). The line before it is a JSON object describing the
run: versions, cores, scale factor, seed, per-operation times.

Everything the run writes stays under ``perfbench/.work`` in the
checkout; the run's own directory is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
SF = 0.1
# byte copies of the catalog's read-only sf0.1 fixture (seed 42), kept in
# the benchmark's directory so a run reads nothing outside its checkout
DATA_DIR = BENCH / "data" / f"sf{SF}"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(run_dir: Path, cores: int) -> Path:
    """Point every scratch location of Python, the JVM and Spark at the
    run's own directory, before anything reads them; returns the
    directory ``TMPDIR`` names."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = str(tmp)
    os.chdir(run_dir)
    return tmp


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    the value there (the maximum when there are ten samples or fewer)."""
    s = sorted(values)
    i = len(s) - 11 if len(s) > 10 else len(s) - 1
    return (i + 1) / len(s), s[i]


class Runner:
    def __init__(self, spark, workload, ctx, seed: int, tmp: Path):
        self.spark = spark
        self.tmp = tmp
        self.workload = workload
        self.ctx = ctx
        self.rng = random.Random(seed)
        self.tracer = None  # a tracing.Tracer during traced passes
        self.counters = None  # a tracing.SparkCounters in traced runs
        self.attempted = 0
        self.errors: list[str] = []
        self.pass_no = 0

    def one_pass(self, stage: str = "timed") -> dict:
        """Run one pass; returns its op latencies and per-op counters."""
        import workloads

        self.pass_no += 1
        pass_dir = self.tmp / f"pass-{self.pass_no}"
        pass_dir.mkdir()
        self.ctx.pass_dir = pass_dir
        # engine code that stages work under mkdtemp() lands in the pass dir
        tempfile.tempdir = str(pass_dir)
        try:
            ops = self.workload(self.ctx, self.rng, stage)
            result = {"ops": [], "counters": [], "failed": 0}
            for op in ops:
                self._run_op(op, stage == workloads.CHECK, result)
            result["stored_bytes"] = workloads.stored_bytes(pass_dir)
            result["log_bytes"], result["checkpoints"] = workloads.log_stats(pass_dir)
        finally:
            tempfile.tempdir = str(self.tmp)
            shutil.rmtree(pass_dir)
        return result

    def _run_op(self, op, checking: bool, result: dict) -> None:
        self.attempted += 1
        tracer = self.tracer
        mark = self.counters.mark() if self.counters else None
        extra: dict[str, float] = {}
        t0 = time.perf_counter()
        out, ok = None, True
        try:
            if tracer:
                with tracer.span(f"op.{op.name}") as idx:
                    tracer.op_span = idx
                    out = self._execute(op, checking, extra)
                tracer.op_span = None
            else:
                out = self._execute(op, checking, extra)
        except Exception:  # noqa: BLE001 — count it, record it, go on
            ok = False
            self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
        elapsed = time.perf_counter() - t0
        if mark is not None:
            c = self.counters.collect(mark)
            c.update(extra)
            result["counters"].append((op.name, c))
        if ok and op.check:
            t_check = time.perf_counter()
            # the check's own table reads are not the operation's work
            paused = tracer.pause() if tracer else contextlib.nullcontext()
            try:
                with paused:
                    problems = op.check(out)
            except Exception:  # noqa: BLE001
                problems = [f"{op.name} check: {traceback.format_exc(limit=3)}"]
            self.errors.extend(problems)
            ok = not problems
            result["check_s"] = result.get("check_s", 0.0) + time.perf_counter() - t_check
        if not ok:
            result["failed"] += 1
        result["ops"].append((op.name, elapsed if ok else None))

    def _execute(self, op, checking: bool, extra: dict):
        if not op.query:
            return op.run()
        tracer = self.tracer
        if tracer is None:
            out = op.run()
            # the checking warm-up pass executes checked queries through
            # their digest instead of the noop sink
            if not (checking and op.check):
                out.write.format("noop").mode("overwrite").save()
            return out
        from tracing import catalyst_phases

        scheduler = self.spark.sparkContext._jsc.sc().dagScheduler()
        j0 = scheduler.nextJobId()
        with tracer.span("queries.build"):
            out = op.run()
        extra["queries.eager_jobs"] = scheduler.nextJobId() - j0
        extra.update(catalyst_phases(out))
        with tracer.span("queries.exec"):
            out.write.format("noop").mode("overwrite").save()
        return out


def _pass_time(p: dict) -> float:
    return sum(t for _, t in p["ops"] if t is not None)


def _pass_count(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def _end_to_end(passes: list[dict], setup_s: float) -> dict:
    """Best pass and best time per operation: the process keeps speeding
    up for several passes after the warm-up, so the fastest pass is the
    one closest to steady state, whatever the number of passes."""
    best: dict[str, float] = {}
    for p in passes:
        for name, t in p["ops"]:
            if t is not None:
                best[name] = min(t, best.get(name, t))
    return {
        "setup_s": setup_s,
        "pass_s": min(_pass_time(p) for p in passes),
        "op_geomean_s": statistics.geometric_mean(best.values()),
    }


def _op_summary(passes: list[dict]) -> dict:
    import workloads

    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, t in p["ops"]:
            if t is not None:
                by_op.setdefault(name, []).append(t)
    out = {name: statistics.median(ts) for name, ts in by_op.items()}
    named = {"c360_build": "full_build_s", "c360_merge": "merge_p50_s",
             **workloads.STREAM_QUERIES}
    lat = [t for p in passes for _, t in p["ops"] if t is not None]
    pct, tail = _tail(lat)
    summary = {
        "op_median_s": out,
        "op_samples": len(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_percentile": pct,
        "op_tail_s": tail,
        "stored_mb": statistics.median(p["stored_bytes"] for p in passes) / 1e6,
    }
    summary.update({v: out[k] for k, v in named.items() if k in out})
    return summary


def _layer_metrics(passes: list[dict], tracers: list, ref_pass_s: float,
                   session: dict, cores: int) -> dict:
    """Per-layer metrics: per-pass totals, median over the traced passes."""
    per_pass: list[dict[str, float]] = []
    for p, tr in zip(passes, tracers):
        m: dict[str, float] = {}
        for _, c in p["counters"]:
            for k, v in c.items():
                if k == "spark.stage_skew":
                    m[k] = max(m.get(k, 1.0), v)
                else:
                    m[k] = m.get(k, 0.0) + v
        selfs = tr.self_times()
        for layer in ("queries.build", "queries.exec", "tables.create",
                      "tables.merge", "tables.read", "tables.commit",
                      "plans.run", "quality.apply", "governance.record",
                      "sql.statement"):
            m[f"{layer}_s"] = selfs.get(layer, 0.0)
        m.update(tr.counters)
        wall = _pass_time(p)
        m["spark.busy_frac"] = m.get("spark.executor_run_s", 0.0) / (wall * cores)
        out_rows = m.pop("tables.merge_output_rows", 0.0)
        changed = m.pop("tables.merge_changed_rows", 0.0)
        m["tables.merge_useful_frac"] = changed / out_rows if out_rows else 0.0
        m["tables.log_bytes"] = p["log_bytes"]
        m["tables.checkpoints"] = p["checkpoints"]
        m["tables.stored_bytes"] = p["stored_bytes"]
        m["trace.pass_s"] = wall
        m["trace.spans"] = len(tr.spans)
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    layer = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
    layer["session.start_s"] = session["start_s"]
    layer["session.warmup_s"] = session["warmup_s"]
    layer["trace.untraced_pass_s"] = ref_pass_s
    return layer


_STRUCTURE = ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")


def _drift(passes: list[dict], seeded: set[str]) -> list[str]:
    """Operations whose structural counters differ between executions.
    Operations on seeded inputs (the MERGE batches) compare job, stage
    and task counts only; their byte counts follow the batch."""
    seen: dict[str, set] = {}
    for p in passes:
        for name, c in p["counters"]:
            keys = _STRUCTURE[:3] if name in seeded else _STRUCTURE
            seen.setdefault(name, set()).add(tuple(c.get(k) for k in keys))
    return sorted(n for n, s in seen.items() if len(s) > 1)


def _traced(runner: Runner, spark, pairs: int, cores: int, session: dict):
    """Untraced and traced passes in turn, starting and ending untraced,
    with ``pairs`` traced passes. Each traced pass is compared with the
    mean of the untraced passes on either side, which cancels the steady
    speed-up of a still-warming process. Every pass
    reads Spark counters between operations; only traced passes install
    span wrappers and the streaming listener."""
    from tracing import SparkCounters, Tracer, instrument, streaming_listener

    runner.counters = SparkCounters(spark)
    untraced = [runner.one_pass()]
    tracers, traced = [], []
    for _ in range(pairs):
        tracer = Tracer()
        listener = streaming_listener(tracer)
        spark.streams.addListener(listener)
        undo = instrument(tracer)
        runner.tracer = tracer
        try:
            traced.append(runner.one_pass())
        finally:
            undo()
            runner.tracer = None
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(listener)
        tracers.append(tracer)
        untraced.append(runner.one_pass())
    u = [_pass_time(p) for p in untraced]
    overhead = statistics.median(
        _pass_time(t) / ((u[i] + u[i + 1]) / 2) - 1 for i, t in enumerate(traced)
    )
    metrics = _layer_metrics(traced, tracers, statistics.median(u), session, cores)
    metrics["trace.overhead_frac"] = overhead
    passes = untraced + traced
    drift = _drift(passes, seeded={"c360_merge"})
    metrics["spark.drift_ops"] = len(drift)
    # a drifting operation counts as failed: its structure must repeat
    runner.errors.extend(f"{name}: structural counters drift between passes"
                         for name in drift)
    return metrics, passes, drift


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    sys.path.insert(0, str(BENCH))
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    expected = json.loads((BENCH / "expected.json").read_text())
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cores = _cores()
    run_dir = WORK / f"run-{os.getpid()}"
    tmp = _prepare_env(run_dir, cores)
    spark = None
    try:
        # the engine is imported only after the environment points at the
        # run directory (its session factory reads SPARK_GRAFT_CPUS)
        import databricks_delta_lake_project_spark.queries.catalog  # noqa: F401
        from databricks_delta_lake_project_spark.session import get_spark

        t_session = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t_session
        ctx = workloads.Context(spark, str(DATA_DIR), expected)
        pass_fn, nominal_s = workloads.WORKLOADS[args.workload]
        runner = Runner(spark, pass_fn, ctx, args.seed, tmp)
        t_warm = time.perf_counter()
        warm = [runner.one_pass(workloads.CHECK)]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - T_START

        if args.trace:
            pairs = _pass_count(args.seconds, 2 * nominal_s)
            metrics, passes, drift = _traced(runner, spark, pairs, cores,
                                             {"start_s": start_s, "warmup_s": warmup_s})
        else:
            passes = [runner.one_pass() for _ in range(_pass_count(args.seconds, nominal_s))]
            drift = []
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        if args.trace:
            metrics["session.peak_rss_mb"] = peak_mb
        else:
            metrics = _end_to_end(passes, setup_s)
        failed = sum(p["failed"] for p in warm + passes) + len(drift)
        import duckdb
        import pyspark

        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "master": f"local[{cores}]",
            "spark": spark.version, "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "sf": SF,
            "data": str(DATA_DIR.relative_to(ROOT)), "session_start_s": start_s,
            "warmup_s": warmup_s, "warmup_op_s": [p["ops"] for p in warm],
            "check_s": sum(p.get("check_s", 0.0) for p in warm + passes),
            "passes": len(passes),
            "pass_s": [_pass_time(p) for p in passes],
            "peak_rss_mb": peak_mb, "drifting_ops": drift, "errors": runner.errors,
            **_op_summary(passes),
        }
        print(json.dumps(info))
        # exactly the metrics BENCHMARK.json lists for this kind of run;
        # a layer counter nothing incremented reads 0
        listed = spec["per_layer"] if args.trace else spec["end_to_end"]
        result = {
            "correct": failed == 0,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {
                    "value": metrics.get(m["name"], 0.0) if args.trace else metrics[m["name"]],
                    "unit": m["unit"],
                }
                for m in listed
            },
        }
    finally:
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
