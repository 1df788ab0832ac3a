"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here observes the engine from outside: spans are recorded
around calls into each layer's public functions (the calls this
benchmark makes, plus class-level wrappers on ``TableStore``'s
mutating methods and on the Fitbit pipeline's wave/dimension/gold
steps), micro-batches come from a ``StreamingQueryListener``, Catalyst
phases from the ``QueryPlanningTracker`` of each query's own
``QueryExecution``, and job/stage/task figures from the Spark event
log, parsed after the session stops.

A span is ``(run id, id, parent, layer, name, start, end)`` in epoch
seconds. Parents are assigned after the run by interval containment,
because ``foreachBatch`` callbacks (and the merges inside them) run
on other threads than the call that started the stream. A span's
self time is its duration minus the union of its children's
intervals.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

LAYERS = (
    "bench",
    "session",
    "plans",
    "catalyst",
    "operators",
    "merge",
    "streaming",
    "orchestrator",
)

# TableStore methods that can commit a new table version
STORE_MUTATORS = (
    "write",
    "write_partitioned",
    "merge",
    "delete",
    "delete_keys",
    "delete_vectored",
    "update",
    "replace_where",
    "restore",
    "clone",
    "optimize",
    "maybe_optimize",
    "add_column",
    "rename_column",
    "drop_column",
    "widen_column",
)

class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress record of the session and
    tracks which queries have terminated, so a caller can wait until
    the listener bus has delivered a finished query's last events."""

    def __init__(self) -> None:
        super().__init__()
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self._started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._cv:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def settle(self, timeout: float = 20.0) -> bool:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not self._started <= self._terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True

    def batches_since(self, mark: int) -> list[dict]:
        """Progress records of executed micro-batches after ``mark``."""
        with self._cv:
            recs = self.progress[mark:]
        return [r for r in recs if "addBatch" in (r.get("durationMs") or {})]

    def mark(self) -> int:
        with self._cv:
            return len(self.progress)


def epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class NullTracer:
    """Tracing off: every hook is a no-op, so untraced runs execute
    exactly the calls a user would make."""

    enabled = False

    @contextmanager
    def span(self, layer: str, name: str):
        yield

    def plan(self, df) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.catalyst: list[dict] = []
        self.store_commits: dict[str, dict] = {}
        self.store_roots: set[str] = set()
        self.store_calls = 0
        self._depth = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- spans --------------------------------------------------------------

    def add(self, layer: str, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append(
                {
                    "run": self.run_id,
                    "id": len(self.spans),
                    "layer": layer,
                    "name": name,
                    "start": start,
                    "end": end,
                }
            )

    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(layer, name, t0, time.time())

    # -- Catalyst ----------------------------------------------------------

    def plan(self, df) -> None:
        """Plan ``df`` on its own QueryExecution and record the tracker's
        phase times and the physical plan's shape. The noop write that
        follows plans again, so this costs one extra optimize+plan per
        query; the overhead metric includes it."""
        t0 = time.time()
        qe = df._jdf.queryExecution()  # noqa: SLF001
        plan = qe.executedPlan().toString()
        t1 = time.time()
        self.add("catalyst", "plan", t0, t1)
        phases = qe.tracker().phases()
        rec = {"t": t0, "exchanges": len(re.findall(r"\bExchange\b", plan))}
        rec["plan_nodes"] = sum(
            1 for line in plan.splitlines() if re.match(r"^[\s:+\-]*[A-Z]\w", line)
        )
        for ph in ("analysis", "optimization", "planning"):
            summary = phases.get(ph)  # scala Option[PhaseSummary]
            rec[f"{ph}_ms"] = (
                float(summary.get().durationMs()) if summary.isDefined() else 0.0
            )
        self.catalyst.append(rec)

    # -- streaming ---------------------------------------------------------

    def add_batches(self, batches: list[dict]) -> None:
        """Micro-batch spans from listener progress: the trigger as a
        streaming span, its durationMs phases laid out in execution
        order inside it (planning ends where addBatch starts, and
        addBatch ends where commitOffsets starts)."""
        for p in batches:
            d = p.get("durationMs") or {}
            start = epoch(p["timestamp"])
            end = start + d.get("triggerExecution", 0) / 1000.0
            self.add("streaming", f"batch:{p.get('name') or p['id']}", start, end)
            t = end - d.get("commitOffsets", 0) / 1000.0
            self.add("streaming", "commitOffsets", t, end)
            for key, layer in (("addBatch", "operators"), ("queryPlanning", "catalyst")):
                dur = d.get(key, 0) / 1000.0
                self.add(layer, key, t - dur, t)
                t -= dur
            t = start
            for key in ("latestOffset", "walCommit"):
                dur = d.get(key, 0) / 1000.0
                self.add("streaming", key, t, t + dur)
                t += dur

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> None:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
            TableStore,
        )
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
            fitbit,
        )

        tracer = self

        def store_wrapper(orig):
            @functools.wraps(orig)
            def call(store, *a, **kw):
                depth = getattr(tracer._depth, "n", 0)
                tracer._depth.n = depth + 1
                t0 = time.time()
                try:
                    return orig(store, *a, **kw)
                finally:
                    tracer._depth.n = depth
                    if depth == 0:
                        tracer.add("merge", orig.__name__, t0, time.time())
                        tracer._scan_store(store.root)

            return call

        for name in STORE_MUTATORS:
            if hasattr(TableStore, name):
                self._patch(TableStore, name, store_wrapper)

        def waves_wrapper(orig):
            @functools.wraps(orig)
            def call(spark, waves, *a, **kw):
                report = {}
                for w in waves:
                    with tracer.span("orchestrator", f"wave:{w.name}"):
                        report.update(orig(spark, [w], *a, **kw))
                return report

            return call

        self._patch(fitbit, "run_waves", waves_wrapper)

        def step_wrapper(label):
            def wrap(orig):
                @functools.wraps(orig)
                def call(*a, **kw):
                    with tracer.span("plans", label):
                        return orig(*a, **kw)

                return call

            return wrap

        for attr, label in (
            ("build_user_bins", "fitbit.user_bins"),
            ("build_user_bins_incremental", "fitbit.user_bins"),
            ("build_gold", "fitbit.gold"),
            ("build_gold_incremental", "fitbit.gold"),
        ):
            self._patch(fitbit.FitbitPipeline, attr, step_wrapper(label))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _scan_store(self, root: str) -> None:
        """Record the commit records (``_OP.json``: files and bytes of
        the version written) of version directories not seen before."""
        with self._lock:
            self.store_calls += 1
            self.store_roots.add(root)
        try:
            entries = os.listdir(root)
        except OSError:
            return
        for e in entries:
            path = os.path.join(root, e, "_OP.json")
            if path in self.store_commits or not os.path.exists(path):
                continue
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            with self._lock:
                self.store_commits[path] = rec

    def store_live(self) -> tuple[int, int]:
        """(parquet files, bytes) currently under every store root."""
        files = size = 0
        for root in self.store_roots:
            for d, _dirs, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(d, f))
        return files, size

    # -- analysis ----------------------------------------------------------

    def tree(self) -> dict[int, list[int]]:
        """Children per span id, parents assigned by containment (the
        smallest enclosing span; ties keep recording order)."""
        order = sorted(self.spans, key=lambda s: (s["start"], -s["end"], s["id"]))
        stack: list[dict] = []
        children: dict[int, list[int]] = {s["id"]: [] for s in self.spans}
        eps = 0.002
        for s in order:
            while stack and stack[-1]["end"] + eps < s["end"]:
                stack.pop()
            s["parent"] = stack[-1]["id"] if stack else None
            if stack:
                children[stack[-1]["id"]].append(s["id"])
            stack.append(s)
        return children

    def self_times(self) -> dict[int, float]:
        children = self.tree()
        by_id = {s["id"]: s for s in self.spans}
        out = {}
        for sid, kids in children.items():
            s = by_id[sid]
            ivs = sorted(
                (max(by_id[k]["start"], s["start"]), min(by_id[k]["end"], s["end"]))
                for k in kids
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sid] = max(0.0, (s["end"] - s["start"]) - covered)
        return out

    def layer_self(self, root_ids: list[int]) -> tuple[dict[str, float], dict[int, dict]]:
        """Self seconds per layer summed under ``root_ids``, and the
        per-root breakdown."""
        selfs = self.self_times()
        children = self.tree()
        total = {layer: 0.0 for layer in LAYERS}
        per_root = {}
        for rid in root_ids:
            acc = {layer: 0.0 for layer in LAYERS}
            todo = [rid]
            while todo:
                sid = todo.pop()
                layer = self.spans[sid]["layer"]
                acc[layer] = acc.get(layer, 0.0) + selfs[sid]
                todo.extend(children[sid])
            per_root[rid] = acc
            for k, v in acc.items():
                total[k] = total.get(k, 0.0) + v
        return total, per_root

    def write(self, path: str) -> None:
        self.tree()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (uncompressed) event log files
    under ``log_dir``."""
    jobs, stages, tasks = {}, {}, []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stages[key] = {
                        "submit": info.get("Submission Time", 0) / 1000.0,
                        "done": info.get("Completion Time", 0) / 1000.0,
                        "tasks": info.get("Number of Tasks", 0),
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "start": ti.get("Launch Time", 0) / 1000.0,
                            "dur_ms": ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                            "sr_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def operator_metrics(
    log: dict, windows: list[tuple[float, float]], build: list[tuple[float, float]], cores: int
) -> dict[str, float]:
    """Spark-execution figures for jobs submitted inside ``windows``
    (the timed operations); ``build`` windows count the eager jobs
    started while a plan was being built."""

    def inside(t: float, wins) -> bool:
        return any(a <= t <= b for a, b in wins)

    job_ids = [j for j, r in log["jobs"].items() if inside(r["submit"], windows)]
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"]}
    stages = {k: v for k, v in log["stages"].items() if k[0] in stage_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    wall = sum(b - a for a, b in windows)
    run_ms = sum(t["run_ms"] for t in tasks)
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda k: stages[k]["done"] - stages[k]["submit"])
        durs = [t["dur_ms"] for t in tasks if t["stage"] == longest[0]]
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    return {
        "operators.jobs": len(job_ids),
        "operators.stages": len(stages),
        "operators.tasks": len(tasks),
        "operators.run_ms": run_ms,
        "operators.cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "operators.gc_ms": sum(t["gc_ms"] for t in tasks),
        "operators.shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
        "operators.shuffle_read_bytes": sum(t["sr_bytes"] for t in tasks),
        "operators.spill_bytes": sum(t["spill"] for t in tasks),
        "operators.task_skew": skew,
        "operators.core_busy_share": run_ms / (wall * 1000.0 * cores) if wall else 0.0,
        "plans.build_jobs": sum(
            1 for r in log["jobs"].values() if inside(r["submit"], build)
        ),
    }


def streaming_metrics(batches: list[dict]) -> dict[str, float]:
    """Listener figures over the timed operations' micro-batches."""

    def total(key: str) -> float:
        return float(sum((b.get("durationMs") or {}).get(key, 0) for b in batches))

    def ops(b: dict) -> list[dict]:
        return b.get("stateOperators") or []

    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms": total("triggerExecution"),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.query_planning_ms": total("queryPlanning"),
        "streaming.offset_ms": total("latestOffset") + total("getBatch"),
        "streaming.wal_ms": total("walCommit") + total("commitOffsets"),
        "streaming.state_update_ms": float(
            sum(
                o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0)
                for b in batches
                for o in ops(b)
            )
        ),
        "streaming.state_commit_ms": float(
            sum(o.get("commitTimeMs", 0) for b in batches for o in ops(b))
        ),
        "streaming.state_rows_max": max(
            (sum(o.get("numRowsTotal", 0) for o in ops(b)) for b in batches), default=0
        ),
        "streaming.state_memory_bytes_max": max(
            (sum(o.get("memoryUsedBytes", 0) for o in ops(b)) for b in batches),
            default=0,
        ),
        "streaming.state_partitions": max(
            (o.get("numShufflePartitions", 0) for b in batches for o in ops(b)),
            default=0,
        ),
        "streaming.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for b in batches for o in ops(b)
        ),
    }
