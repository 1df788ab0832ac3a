#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload catalog_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Each invocation is one fresh process
with its own Spark session on ``local[<cpus>]`` (cpus = the CPUs this
process may run on). The run generates its inputs from ``--seed``,
sets up (session start, input generation, expected values, staging,
warm pass: all counted in ``setup_s``), then makes exactly the
workload's ``PASSES`` passes of operations as a closed loop, checking
every operation's output. ``--seconds`` and the run's time limit only
ever stop the loop early: no pass starts that would, at the previous
pass's speed, end after five times ``--seconds``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics declared in BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics. A traced run first
makes one untraced run of the same workload and seed in a child
process and reports its own ``total_s`` minus the child's as
``trace.overhead_s``. Its spans go to ``.perfbench/artifacts/`` (see
METRICS.md for every metric).

Everything the run writes stays under ``.perfbench/`` in the
repository root; at the end only the artifacts are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import spans
import workloads

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

MAX_RUN_S = 170.0  # the whole run, setup and teardown included


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke",
        action="store_true",
        help="tiny inputs and one pass: checks the harness, not the speed",
    )
    ap.add_argument(
        "--inject",
        choices=("wrong_count", "drain_timeout"),
        help="test hook: force every check to fail in the named way",
    )
    return ap.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def pin_environment(work: Path) -> tuple[int, dict[str, str], dict]:
    """CPUs, local/temp dirs inside ``work`` and a driver heap well
    below physical memory; returns (cpus, Spark conf, record)."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(4096, phys_mb // 4)
    dirs = {d: work / d for d in ("tmp", "local", "ckpt", "warehouse", "eventlog")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["TMPDIR"] = str(dirs["tmp"])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # no hsperfdata files: HotSpot writes them under /tmp whatever
    # java.io.tmpdir says (the launcher JVM of spark-submit too)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(dirs["tmp"])
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": str(dirs["local"]),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.sql.streaming.checkpointLocation": str(dirs["ckpt"]),
        "spark.ui.showConsoleProgress": "false",
    }
    record = {"cpus": cpus, "driver_memory_mb": heap_mb, "phys_mb": phys_mb}
    return cpus, conf, record


def untraced_baseline(args) -> float:
    """Untraced ``total_s`` of the same workload and seed, from one run
    in a fresh child process made just before the traced one."""
    cmd = [
        sys.executable,
        str(Path(__file__).resolve()),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    if args.smoke:
        cmd.append("--smoke")
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=MAX_RUN_S, check=True
    )
    child = json.loads(out.stdout.strip().splitlines()[-1])
    return child["metrics"]["total_s"]["value"]


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: int) -> float:
    """``q``-th percentile (inclusive method); the single value if one."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args) -> tuple[dict, list[str]]:
    """Set up, loop, check; returns (result object, extra stdout lines)."""
    import pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark as pl

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}: {sorted(workloads.WORKLOADS)}")
    t_begin = time.perf_counter()
    untraced = untraced_baseline(args) if args.trace else None
    t_begin_own = time.perf_counter()

    base = ROOT / ".perfbench"
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = base / run_id
    shutil.rmtree(work, ignore_errors=True)
    cpus, conf, env_record = pin_environment(work)
    tracer = spans.Tracer(run_id) if args.trace else spans.NullTracer()
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )

    # -- setup (session, inputs, expected values, warm pass) ------------
    t0, e0 = time.perf_counter(), time.time()
    spark = pl.get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    listener = spans.ProgressListener()
    spark.streams.addListener(listener)
    session_s = time.perf_counter() - t0
    if args.trace:
        tracer.add("session", "get_spark", e0, time.time())
        tracer.install()
    workload = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Context(
        spark=spark,
        work=str(work),
        seed=args.seed,
        tracer=tracer,
        listener=listener,
        smoke=args.smoke,
        inject=args.inject,
    )
    try:
        i0 = time.perf_counter()
        workload.setup(ctx)
        inputs_s = time.perf_counter() - i0
        w0 = time.perf_counter()
        workload.warm(ctx)
        listener.settle()
        warm_s = time.perf_counter() - w0
        setup_s = session_s + inputs_s + warm_s

        # -- timed closed loop ------------------------------------------
        walls: dict[str, list[float]] = {}
        batch_ms: list[float] = []
        windows: list[tuple[float, float]] = []
        root_spans: list[int] = []
        attempted = failed = passes = 0
        failures: list[str] = []
        loop_start = time.perf_counter()

        def execute(op, timed: bool) -> None:
            nonlocal attempted, failed
            attempted += 1
            spark.sparkContext.setJobDescription(f"perfbench:{args.workload}:{op.name}")
            mark = listener.mark()
            e_start, p_start = time.time(), time.perf_counter()
            try:
                out = op.run()
                wall = time.perf_counter() - p_start
                e_end = time.time()
                listener.settle()
                problem = op.check(out)
            except Exception as exc:  # a failed operation is counted, never timed
                wall, e_end = None, time.time()
                problem = f"{type(exc).__name__}: {exc}"
            finally:
                spark.sparkContext.setJobDescription(None)
                op.after()
            if args.trace:
                tracer.add("bench", op.name, e_start, e_end)
                root_spans.append(len(tracer.spans) - 1)
                tracer.add_batches(listener.batches_since(mark))
            if problem is not None:
                failed += 1
                failures.append(f"{op.name}: {problem}"[:300])
                return
            if timed:
                walls.setdefault(op.name, []).append(wall)
                windows.append((e_start, e_end))
                batch_ms.extend(
                    float(p["durationMs"]["triggerExecution"])
                    for p in listener.batches_since(mark)
                )

        last_pass = 0.0
        pass_walls: list[float] = []
        deadline = min(5.0 * args.seconds, MAX_RUN_S - 25.0 - (loop_start - t_begin))
        for _ in range(1 if args.smoke else workload.PASSES):
            if passes and time.perf_counter() - loop_start + last_pass > deadline:
                break
            p0 = time.perf_counter()
            for op in workload.pass_ops(ctx):
                execute(op, timed=True)
            passes += 1
            last_pass = time.perf_counter() - p0
            pass_walls.append(last_pass)
        timed_roots = list(root_spans)
        live = tracer.store_live() if args.trace else None
        skipped: list[str] = []
        if args.trace:
            for op in workload.trace_ops(ctx):
                # attribution only: skipped when the run is late, so that
                # the traced run and its untraced child end within MAX_RUN_S
                if time.perf_counter() - t_begin > MAX_RUN_S - 25.0:
                    skipped.append(op.name)
                    continue
                execute(op, timed=False)
        listener.settle()
        setup_s += ctx.setup_extra_s

        # -- end-to-end figures -----------------------------------------
        med = {name: statistics.median(v) for name, v in walls.items()}
        unit_ms = (
            [w * 1000.0 for v in walls.values() for w in v]
            if workload.unit == "query"
            else batch_ms
        )
        e2e = {
            "setup_s": setup_s,
            "ok_share": (attempted - failed) / attempted,
            "total_s": sum(med.values()),
            "geomean_ms": statistics.geometric_mean(med.values()) * 1000.0 if med else 0.0,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "setup_parts_s": {
                "session": session_s,
                "inputs": inputs_s,
                "warm": warm_s,
                "staging": ctx.setup_extra_s,
            },
            "passes": passes,
            "pass_s": pass_walls,
            "unit": workload.unit,
            "unit_samples": len(unit_ms),
            "unit_p50_ms": percentile(unit_ms, 50) if unit_ms else None,
            "unit_p75_ms": percentile(unit_ms, 75) if unit_ms else None,
            **env_record,
            **workload.detail(med),
            "per_op_s": med,
        }
        if args.trace:
            layer = layer_metrics(
                tracer, ctx, session_s, windows, timed_roots, passes, e2e, untraced, live
            )
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        tracer.uninstall()
        stop_session(spark)

    lines = ["perfbench detail: " + json.dumps(detail, sort_keys=True)]
    if failures:
        lines.append("perfbench failures: " + json.dumps(failures[:5]))
    if args.trace:
        log = spans.read_event_log(str(work / "eventlog"))
        build = [
            (s["start"], s["end"])
            for s in tracer.spans
            if s["layer"] == "plans" and s["name"] == "build"
            and any(a <= s["start"] <= b for a, b in windows)
        ]
        ops = spans.operator_metrics(log, windows, build, cpus)
        for k, v in ops.items():
            if k not in ("operators.task_skew", "operators.core_busy_share"):
                v = v / passes
            layer[k] = v
        layer["session.jvm_peak_rss_mb"] = jvm_rss
        layer["session.py_peak_rss_mb"] = py_rss
        artifacts = base / "artifacts"
        artifacts.mkdir(parents=True, exist_ok=True)
        span_path = artifacts / f"{run_id}.spans.jsonl"
        tracer.write(str(span_path))
        _, per_root = tracer.layer_self(
            [i for i, s in enumerate(tracer.spans) if s["layer"] == "bench"]
        )
        by_op: dict[str, dict[str, float]] = {}
        for rid, acc in per_root.items():
            sums = by_op.setdefault(tracer.spans[rid]["name"], {})
            for layer_name, secs in acc.items():
                sums[layer_name] = sums.get(layer_name, 0.0) + secs
        top = {}
        for name, sums in by_op.items():
            best = max(sums, key=sums.get)
            top[name] = [best, round(sums[best] / max(1e-9, sum(sums.values())), 3)]
        summary = {
            "run": run_id,
            "spans": str(span_path.relative_to(ROOT)),
            "overhead_s": layer["trace.overhead_s"],
            "untraced_total_s": untraced,
            "skipped_trace_ops": skipped,
            "top_self_layer": top,
        }
        (artifacts / f"{run_id}.summary.json").write_text(json.dumps(summary, indent=1))
        lines.append("perfbench trace: " + json.dumps(summary, sort_keys=True))
        metrics = layer
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)

    units = declared_metrics(bool(args.trace))
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }
    return result, lines


def layer_metrics(
    tracer, ctx, session_s, windows, roots, passes, e2e, untraced, live
) -> dict[str, float]:
    """Per-layer figures of a traced run (event-log figures are added
    after the session stops). Sums are per timed pass."""

    def timed(s: dict) -> bool:
        return any(a <= s["start"] <= b for a, b in windows)

    timed_spans = [s for s in tracer.spans if timed(s)]

    def span_s(layer: str, name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in timed_spans
            if s["layer"] == layer and s["name"] == name
        ) / passes

    total_self, _ = tracer.layer_self(roots)
    merges = [s for s in timed_spans if s["layer"] == "merge"]
    cat = [r for r in tracer.catalyst if any(a <= r["t"] <= b for a, b in windows)]
    commits = [
        rec for rec in tracer.store_commits.values()
        if any(a <= rec.get("ts", 0) <= b for a, b in windows)
    ]
    live_files, live_bytes = live
    landed_bytes = ctx.notes.get("landed", {}).get("bytes") or sum(
        p.stat().st_size for p in Path(ctx.work, "data").glob("*.parquet")
    )
    batches = [
        b for b in ctx.listener.batches_since(0)
        if any(a <= spans.epoch(b["timestamp"]) <= e for a, e in windows)
    ]
    stream = spans.streaming_metrics(batches)
    out = {
        "session.start_s": session_s,
        "plans.build_s": span_s("plans", "build"),
        "catalyst.analysis_ms": sum(r["analysis_ms"] for r in cat) / passes,
        "catalyst.optimization_ms": sum(r["optimization_ms"] for r in cat) / passes,
        "catalyst.planning_ms": sum(r["planning_ms"] for r in cat) / passes,
        "catalyst.exchanges": sum(r["exchanges"] for r in cat) / passes,
        "catalyst.plan_nodes": sum(r["plan_nodes"] for r in cat) / passes,
        "merge.calls": len(merges) / passes,
        "merge.ms": 1000.0 * sum(s["end"] - s["start"] for s in merges) / passes,
        "merge.commits": len(commits) / passes,
        "merge.files_written": sum(r.get("n_files", 0) for r in commits) / passes,
        "merge.bytes_written": sum(r.get("bytes", 0) for r in commits) / passes,
        "merge.files_live": live_files / passes,
        "merge.write_amp": (live_bytes / landed_bytes) if landed_bytes else 0.0,
        "sources.landed_rows": ctx.notes.get("landed", {}).get("rows", 0),
        "sources.landed_bytes": ctx.notes.get("landed", {}).get("bytes", 0),
        "fitbit.user_bins_s": span_s("plans", "fitbit.user_bins"),
        "fitbit.gold_s": span_s("plans", "fitbit.gold"),
        "trace.total_s": e2e["total_s"],
        "trace.overhead_s": e2e["total_s"] - untraced,
        "trace.overhead_share": (e2e["total_s"] - untraced) / untraced if untraced else 0.0,
        "trace.spans": len(tracer.spans),
    }
    for wave in ("bronze", "silver1", "silver2", "silver3"):
        out[f"orchestrator.wave_s.{wave}"] = span_s("orchestrator", f"wave:{wave}")
    for layer, secs in total_self.items():
        out[f"self_s.{layer}"] = secs / passes
    peaks = (
        "streaming.state_rows_max",
        "streaming.state_memory_bytes_max",
        "streaming.state_partitions",
    )
    for k, v in stream.items():
        out[k] = v if k in peaks else v / passes
    return out


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    result, lines = run(args)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
