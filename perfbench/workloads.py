"""The benchmark's three workloads.

Each workload is a closed loop with one client: ``pass_ops`` returns
one pass of operations, and the runner starts each operation only
after the previous one completed. A run makes exactly ``PASSES``
passes (fewer only if it runs out of time): the JIT keeps speeding
Spark's driver-side paths up for many passes (measured on
catalog_batch: 9.8, 8.2, 7.7, 7.9, 7.1, 5.9 s for six passes after a
warm pass), so a time-bounded pass count would put fast and slow runs
at different points of that curve. Inputs are generated from the seed
in ``setup`` before any timer starts; ``setup`` also computes every
expected value the checks compare against, and stages what the timed
calls read.

An ``Op`` separates the timed call (``run``) from its check
(``check``, untimed, given ``run``'s return value) so a check never
re-executes the work it verifies.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import datagen

@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    after: Callable[[], None] = lambda: None


@dataclass
class Context:
    """What a workload needs from the run: the session, the work
    directory inside the checkout, the seed and the test hooks."""

    spark: object
    work: str
    seed: int
    tracer: object
    listener: object
    smoke: bool = False
    inject: str | None = None
    setup_extra_s: float = 0.0  # untimed per-pass staging, added to setup_s
    notes: dict = field(default_factory=dict)


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, expected {want}"


def _expected(ctx: Context, value: int) -> int:
    """Expected value, deliberately off by one under the test hook."""
    return value + 1 if ctx.inject == "wrong_count" else value


def _drain_timeout(ctx: Context, normal: float) -> float:
    return 0.05 if ctx.inject == "drain_timeout" else normal


def _duck(data_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


# =========================================================================
# catalog_batch
# =========================================================================


class CatalogBatch:
    """Bench-tagged catalog queries through the noop sink, each row
    count checked against its DuckDB oracle. The timed set is a fixed
    subset of the 32 bench-tagged queries that spans aggregation,
    multi-way joins, skew salting, windows, text and near-dup
    operators; the traced run adds the heaviest rows
    (``TRACE_EXTRA``) once each for attribution. Two warm passes run
    first: the JIT is still speeding the driver-side paths up after
    one."""

    name = "catalog_batch"
    unit = "query"
    SF = 0.01
    WARM_PASSES = 2
    # per-query medians over 5 passes spread 0.08 (quartile distance /
    # median, 5 seeds) where the first 3 of the same passes spread 0.13
    PASSES = 5
    QUERIES = (
        "pricing_summary",
        "regional_volume",
        "skewed_join_salted",
        "cdc_latest",
        "tfidf_topk_terms",
        "minhash_lsh_pairs",
    )
    TRACE_EXTRA = (
        "star_join_view_maintain",
        "pagerank_deep_trade",
    )

    def setup(self, ctx: Context) -> None:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
            QUERIES,
        )

        self.catalog = QUERIES
        sf = 0.001 if ctx.smoke else self.SF
        self.data = os.path.join(ctx.work, "data")
        datagen.write_tables(self.data, sf, ctx.seed)
        names = self.QUERIES + (self.TRACE_EXTRA if ctx.tracer.enabled else ())
        con = _duck(self.data, datagen.row_counts(sf))
        self.expected = {
            n: con.execute(f"SELECT count(*) FROM ({QUERIES[n].oracle})").fetchone()[0]
            for n in names
        }
        con.close()

    def warm(self, ctx: Context) -> None:
        for _ in range(0 if ctx.smoke else self.WARM_PASSES):
            for op in self._ops(ctx, self.QUERIES):
                op.run()
                op.after()

    def pass_ops(self, ctx: Context) -> list[Op]:
        return self._ops(ctx, self.QUERIES)

    def trace_ops(self, ctx: Context) -> list[Op]:
        return self._ops(ctx, self.TRACE_EXTRA)

    def _ops(self, ctx: Context, names) -> list[Op]:
        return [self._op(ctx, n) for n in names]

    def _op(self, ctx: Context, name: str) -> Op:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.cache import (
            release_pinned,
        )

        spark, tracer = ctx.spark, ctx.tracer

        def run():
            with tracer.span("plans", "build"):
                df = self.catalog[name].spark(spark, self.data)
            obs = Observation(f"rows_{name}_{time.monotonic_ns()}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            tracer.plan(df)
            with tracer.span("operators", "noop_write"):
                df.write.format("noop").mode("overwrite").save()
            return obs.get["n"]

        def after():
            # inter-query hygiene (outside every timer): release pins
            # and cached blocks so no query inherits another's state
            release_pinned()
            spark.catalog.clearCache()

        return Op(
            name,
            run,
            lambda rows: _mismatch("rows", rows, _expected(ctx, self.expected[name])),
            after,
        )

    def detail(self, med: dict[str, float]) -> dict:
        walls = [med[n] for n in self.QUERIES if n in med]
        return {
            "catalog_total_s": sum(walls),
            "catalog_geomean_s": statistics.geometric_mean(walls) if walls else 0.0,
        }


# =========================================================================
# medallion_replay
# =========================================================================


def _shift_times(fx_set, seconds: float) -> None:
    """Move every event time of a fixture set by ``seconds``; relations
    between rows, and so the golden counts, are unchanged."""
    for rows, keys in (
        (fx_set.users, ("registration_timestamp",)),
        (fx_set.gym_logins, ("login", "logout")),
        (fx_set.user_info, ("timestamp",)),
        (fx_set.workouts, ("timestamp",)),
        (fx_set.bpm, ("time",)),
    ):
        for row in rows:
            for k in keys:
                row[k] += seconds


class MedallionReplay:
    """The paper's pipeline through ``FitbitPipeline.run()`` over two
    incremental fixture sets: set 1 backfills empty tables, set 2
    merges into them. Each set is timed from its files landing to the
    gold table merged and ``gym_summary`` / ``summary_slices`` read,
    then checked against ``fitbit_fixtures.expected_counts``."""

    name = "medallion_replay"
    unit = "batch"
    PASSES = 1
    USERS = 8
    CADENCE_S = 5
    # Set 2 lands after set 1 in event time, as an increment does: every
    # seed then advances the watermarks on set 2 (the generator draws
    # both sets from the same 2023 window, so otherwise some seeds would
    # and some would not, and set 2 would run a seed-dependent number of
    # eviction micro-batches). 90 days clears set 1's whole span.
    SET2_SHIFT_S = 90 * 86_400

    def setup(self, ctx: Context) -> None:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
            fitbit_fixtures as fx,
        )

        users = 2 if ctx.smoke else self.USERS
        self.sets = [
            fx.generate_set(i, n_users=users, seed=ctx.seed, bpm_cadence_s=self.CADENCE_S)
            for i in (1, 2)
        ]
        _shift_times(self.sets[1], self.SET2_SHIFT_S)
        self.stage = os.path.join(ctx.work, "landing_sets")
        self.landed = {"rows": 0, "bytes": 0}
        for s in self.sets:
            d = os.path.join(self.stage, f"set{s.set_id}")
            counts = fx.write_landing(s, d)
            self.landed["rows"] += sum(counts.values())
            for root, _dirs, files in os.walk(d):
                self.landed["bytes"] += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        self.expected = [
            fx.expected_counts(self.sets[:1]),
            fx.expected_counts(self.sets),
        ]
        self.passes = 0
        ctx.notes["landed"] = self.landed

    def warm(self, ctx: Context) -> None:
        """No warm pass: a pipeline job pays its JIT and codegen in every
        fresh process, and a warm replay would double the run (measured:
        about 40 s cold for a two-user replay on 4 cores)."""

    def pass_ops(self, ctx: Context) -> list[Op]:
        t0 = time.perf_counter()
        self.passes += 1
        ops = self._pass(ctx, self.stage, f"pass{self.passes}")
        ctx.setup_extra_s += time.perf_counter() - t0
        return ops

    def _pass(self, ctx: Context, stage: str, label: str) -> list[Op]:
        """A fresh pipeline and copies of the staged sets to land (made
        here, outside the timer)."""
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans.fitbit import (
            FitbitPipeline,
        )

        workdir = os.path.join(ctx.work, label)
        pipe = FitbitPipeline(ctx.spark, workdir)
        incoming = []
        for i in (1, 2):
            dst = os.path.join(workdir, f"incoming{i}")
            shutil.copytree(os.path.join(stage, f"set{i}"), dst)
            incoming.append(dst)
        return [self._op(ctx, pipe, i, incoming[i]) for i in range(2)]

    def _op(self, ctx: Context, pipe, i: int, incoming: str) -> Op:
        tracer = ctx.tracer
        expected = dict(self.expected[i])
        expected["users"] = _expected(ctx, expected["users"])

        def land() -> None:
            for feed in os.listdir(incoming):
                dst = os.path.join(pipe.landing, feed)
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(os.path.join(incoming, feed)):
                    os.replace(os.path.join(incoming, feed, f), os.path.join(dst, f))

        def run():
            land()
            with tracer.span("plans", "fitbit.run"):
                pipe.run(timeout_sec=_drain_timeout(ctx, 120))
            with tracer.span("operators", "reports"):
                gym = pipe.gym_summary().count()
                slices = pipe.summary_slices().count()
            return gym, slices

        def check(out) -> str | None:
            gym, slices = out
            return (
                _mismatch("table counts", pipe.table_counts(), expected)
                or _mismatch("gym_summary rows", gym, expected["completed_workouts"])
                or (None if slices > 0 else "summary_slices is empty")
            )

        return Op(f"set{i + 1}", run, check)

    def trace_ops(self, ctx: Context) -> list[Op]:
        return []

    def detail(self, med: dict[str, float]) -> dict:
        return {
            "replay_set1_s": med.get("set1", 0.0),
            "replay_set2_s": med.get("set2", 0.0),
        }


# =========================================================================
# stream_state
# =========================================================================


class StreamState:
    """Five streaming shapes over the ``events`` table staged as
    ``FILES`` files, one file per micro-batch: watermarked dedup, the
    stream-stream interval join, gap sessions,
    ``applyInPandasWithState`` running totals, and a ``foreachBatch``
    SCD-2 merge into a ``TableStore``. Each drain must execute one
    batch per file and produce exactly the rows a DuckDB model of the
    same slices predicts."""

    name = "stream_state"
    unit = "batch"
    PASSES = 1
    SF = 0.01
    FILES = 8

    def setup(self, ctx: Context) -> None:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.streaming import (
            ops as sops,
        )

        spark = ctx.spark
        sf = 0.001 if ctx.smoke else self.SF
        self.files = 2 if ctx.smoke else self.FILES
        self.data = os.path.join(ctx.work, "data")
        datagen.write_tables(self.data, sf, ctx.seed, names=("events",))
        n = self.files

        def staged():
            return sops.stream_table(spark, self.data, "events", n_files=n)

        self.builds = {
            "streaming_dedup": (
                sops.streaming_dedup(
                    staged().select("user_id", "event_type", "ts"),
                    keys=["user_id", "event_type"],
                    event_time="ts",
                ).select("user_id", "event_type"),
                "append",
            ),
            "streaming_interval_join": (self._interval_join(sops, staged), "append"),
            "streaming_session_agg": (
                sops.session_window_agg(
                    staged(),
                    keys=["user_id"],
                    event_time="ts",
                    gap="30 minutes",
                    aggs=[
                        F.count(F.lit(1)).alias("n_events"),
                        F.round(F.sum("value"), 2).alias("total_value"),
                    ],
                ),
                "complete",
            ),
            "stateful_running_totals": (
                sops.stateful_running_totals(staged(), key="user_id", value="value"),
                "append",
            ),
        }
        cents = F.floor(F.col("value").cast("double") * 100 + 0.5).cast("long")
        self.scd2_changes = (
            staged()
            .filter(F.col("event_type").isin("view", "error"))
            .select(
                "user_id",
                "ts",
                "event_id",
                cents.alias("state_c"),
                F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            )
        )
        self.expected = self._model()
        self.passes = 0

    @staticmethod
    def _interval_join(sops, staged):
        starts = (
            staged()
            .filter(F.col("event_type") == "signup")
            .select("user_id", F.col("event_id").alias("start_id"), F.col("ts").alias("start_ts"))
        )
        stops = (
            staged()
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("end_id"), F.col("ts").alias("end_ts"))
        )
        return sops.streaming_interval_join(
            starts,
            stops,
            ["user_id"],
            start_time="start_ts",
            end_time="end_ts",
            max_interval="interval 3 hours",
            watermark="365 days",
            closed="open",
        ).select(
            F.col("s.user_id").alias("user_id"), "start_id", "end_id", "start_ts", "end_ts"
        )

    def _model(self) -> dict[str, int]:
        """Expected output rows per shape, from the same row slices the
        stream stages (``stream_table`` cuts the table into ``files``
        consecutive slices of ``ceil(rows / files)`` rows)."""
        rows = pq.ParquetFile(os.path.join(self.data, "events.parquet")).metadata.num_rows
        step = -(-rows // self.files)
        con = _duck(self.data, ("events",))
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        out = {
            "streaming_dedup": q(
                "SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM events)"
            ),
            "streaming_interval_join": q(
                "SELECT count(*) FROM events s JOIN events e ON s.user_id = e.user_id "
                "AND s.event_type = 'signup' AND e.event_type = 'purchase' "
                "AND e.ts > s.ts AND e.ts < s.ts + INTERVAL 3 HOUR"
            ),
            "streaming_session_agg": q(
                "SELECT count(*) FROM (SELECT ts - lag(ts) OVER (PARTITION BY user_id "
                "ORDER BY ts) AS gap FROM events) "
                "WHERE gap IS NULL OR gap >= INTERVAL 30 MINUTE"
            ),
            "stateful_running_totals": q(
                "SELECT count(*) FROM (SELECT DISTINCT user_id, "
                f"(row_number() OVER (ORDER BY event_id) - 1) // {step} AS b "
                "FROM events)"
            ),
            "streaming_scd2_apply": q(
                "SELECT count(*) FROM events WHERE event_type IN ('view', 'error')"
            ),
        }
        con.close()
        return out

    def warm(self, ctx: Context) -> None:
        pass  # each drain starts a fresh query, as a user's job would

    def pass_ops(self, ctx: Context) -> list[Op]:
        self.passes += 1
        ops = [self._drain_op(ctx, name) for name in self.builds]
        ops.append(self._scd2_op(ctx))
        return ops

    def _drain_op(self, ctx: Context, name: str) -> Op:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.streaming import (
            ops as sops,
        )

        df, mode = self.builds[name]
        stats: dict = {}

        def run():
            with ctx.tracer.span("streaming", "run_stream_to_memory"):
                return sops.run_stream_to_memory(
                    df,
                    output_mode=mode,
                    timeout_sec=_drain_timeout(ctx, 120),
                    stats_out=stats,
                )

        def check(sink) -> str | None:
            return _mismatch("batches", stats.get("num_batches"), self.files) or _mismatch(
                "rows", sink.count(), _expected(ctx, self.expected[name])
            )

        return Op(name, run, check)

    def _scd2_op(self, ctx: Context) -> Op:
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
            TableStore,
        )
        from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.sources.sinks import (
            start_foreach_batch_sink,
        )

        root = os.path.join(ctx.work, f"scd2_{self.passes}")
        store = TableStore(ctx.spark, os.path.join(root, "store"))
        store.declare_partitioning("h", keys=["user_id"], n_buckets=8)
        state: dict = {}

        def apply(batch_df, _id):
            store.merge(
                "h",
                batch_df,
                ["user_id"],
                policy="scd2",
                seq_col="ts",
                tiebreak_col="event_id",
            )

        def run():
            with ctx.tracer.span("streaming", "foreach_batch_drain"):
                q = start_foreach_batch_sink(
                    self.scd2_changes,
                    apply,
                    checkpoint=os.path.join(root, "ckpt"),
                    cache_batch=True,
                )
                state["drained"] = q.awaitTermination(_drain_timeout(ctx, 120))
                if q.isActive:
                    q.stop()
            state["batches"] = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
            return q

        def check(q) -> str | None:
            if not state["drained"]:
                return "drain did not finish before its timeout"
            if q.exception() is not None:
                return f"stream failed: {q.exception()}"
            return _mismatch("batches", state["batches"], self.files) or _mismatch(
                "rows",
                store.read("h").count(),
                _expected(ctx, self.expected["streaming_scd2_apply"]),
            )

        return Op("streaming_scd2_apply", run, check)

    def trace_ops(self, ctx: Context) -> list[Op]:
        return []

    def detail(self, med: dict[str, float]) -> dict:
        return {"stream_total_s": sum(med.values())}


WORKLOADS = {w.name: w for w in (CatalogBatch, MedallionReplay, StreamState)}
