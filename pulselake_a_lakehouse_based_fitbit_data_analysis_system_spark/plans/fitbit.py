"""The Fitbit lakehouse workload, re-expressed Spark-first.

This is the reference system's entire pipeline (bronze→silver→gold
medallion over Fitbit-style streams) rebuilt on OSS Structured
Streaming + the engine's operator library:

- bronze: incremental file sources (reference Auto Loader,
  ``Bronze/04-bronze.py``) → parquet append sinks, multiplex
  partitioned by topic with broadcast date enrichment.
- silver: watermarked dedup + foreachBatch merges (reference
  ``Silver/05-silver.py``); the completed_workouts stage is a true
  stream-stream interval join from bronze (J3); workout_bpm is the
  bpm stream interval-joined against the completed-session dimension
  (J4, stream⋈static form).
- gold: per-session min/avg/max/count + demographic join + full
  upsert (reference ``Gold/06-gold.py``); gym_summary as a lazy view
  with the BETWEEN reporting join (``Setup/02-setup.py:244-256``).

Storage is the parquet-backed TableStore (under Delta the same
policies map onto DeltaTable.merge). TableStore's changelog mode provides
the Delta-CDF analog the reference's silver-on-silver streams rely on
(S4/T8/T9, ``Silver/05-silver.py:71-76``): ``stream_changes`` is an
incremental streaming source over per-commit change records with
``startingVersion`` semantics — waves 2-3 can consume it instead of
incremental-batch recompute (pattern tested in
``tests/test_changelog.py``).

Orchestration mirrors the reference's dependency waves with barriers
(``Silver/05-silver.py:486-503``) via streaming.orchestrator, with one
wave fewer: the reference's wave 2 stream-stream join reads silver
``workouts``, this port's reads the bronze multiplex, so
``completed_workouts`` starts with the five wave-1 streams instead of
waiting behind them. The waves are bronze → silver1 (users, gym_logs,
user_profile, workouts, heart_rate, completed_workouts) → user_bins →
silver3 (workout_bpm, which reads completed_workouts and users) → gold.

Every bronze and silver query starts with no-data micro-batches off
(``spark.sql.streaming.noDataMicroBatches.enabled=false``, scoped to the
query's ``start()``). Structured Streaming runs a no-data batch after a
data batch moves the watermark, only to evict state and emit output
that eviction releases. The pipeline's stateful operators are
watermarked ``dropDuplicates`` and inner stream-stream joins, which emit
a row when it arrives and nothing on eviction, so those batches would
produce no rows, yet each would pay a state commit and an empty merge
that commits a whole table version. Eviction happens in the next data
batch instead, which applies the advanced watermark to both its
late-row filter and its eviction, so the rows are the same. An append-mode aggregation, an
outer join or a state timeout emits on eviction; a query with one of
those would need its no-data batches back. The change-feed queries of
``incremental_dims`` hold no state and never run no-data batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import age_bins, minutes_between, validity_flag
from ..operators import dedup, joins, merge
from ..operators.agg import session_stats
from ..operators.merge import TableStore
from ..schemas import (
    BPM_PAYLOAD,
    GYM_LOGINS,
    KAFKA_ENVELOPE,
    REGISTERED_USERS,
    USER_INFO_PAYLOAD,
    WORKOUT_PAYLOAD,
)
from ..sources.files import read_csv_stream, read_json_stream
from ..streaming.ops import session_conf
from ..streaming.orchestrator import StreamWave, run_waves

# conf every bronze and silver query starts with (module docstring)
_QUERY_CONF = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}


class FitbitPipeline:
    """End-to-end medallion pipeline over a landing directory.

    ``run(once=True)`` drains everything with availableNow triggers —
    the reference's dual batch/stream mode flag
    (``Bronze/04-bronze.py:39-42``). Calling ``run`` again after new
    landing files arrive processes only the increment (checkpoints
    track seen files) and all merges are idempotent — the property the
    two-set replay test asserts.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        available_now: bool = True,
        processing_time: str = "1 seconds",
        incremental_dims: bool = False,
    ) -> None:
        self.spark = spark
        self.workdir = workdir
        self.landing = os.path.join(workdir, "landing")
        self.bronze_dir = os.path.join(workdir, "bronze")
        self.ckpt = os.path.join(workdir, "_checkpoints")
        # Version retention is the TableStore analog of Delta's VACUUM
        # window: a concurrent reader resolves the pointer, then reads
        # files — retention must cover (read duration × merge rate).
        # Live processingTime mode merges every trigger, so it keeps
        # more versions for monitoring/reporting readers.
        self.store = TableStore(
            spark,
            os.path.join(workdir, "tables"),
            keep_versions=2 if available_now else 8,
        )
        # Incremental silver-on-silver / gold-on-silver maintenance
        # (reference S4 CDF reads): user_bins consumes user_profile's
        # CDF-lite change stream and workout_bpm_summary consumes
        # workout_bpm's, instead of full recomputes per run. Opt-in:
        # the per-table changelog is the delta.enableChangeDataFeed
        # analog and costs one diff join per merge into those tables.
        self.incremental_dims = incremental_dims
        if incremental_dims:
            self.store.enable_changelog("user_profile")
            self.store.enable_changelog("workout_bpm")
        # Date-partition the merge-heavy fact tables (the Delta
        # ``PARTITIONED BY (date)`` analog): every micro-batch merge
        # rewrites only the event-date partitions the batch carries —
        # O(days in batch) write amplification instead of O(table),
        # and the changelog diff prunes to the same partitions.
        for t in ("heart_rate", "workout_bpm", "workout_bpm_summary"):
            self.store.declare_partitioning(t, partition_column="p_date")
        # the reference's dual batch/stream `once` flag
        # (Bronze/04-bronze.py:39-42): availableNow drain vs live
        # processingTime micro-batches
        self.available_now = available_now
        self.processing_time = processing_time
        os.makedirs(self.landing, exist_ok=True)

    def _start(self, writer):
        if self.available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.processing_time)
        with session_conf(self.spark, _QUERY_CONF):
            return writer.start()

    # -- dimensions --------------------------------------------------------

    def load_date_lookup(self) -> None:
        """Static calendar dimension (reference
        ``Setup/03-history-loader.py``): one row per 2023 day with
        week_part for ingest-time partition derivation."""
        dates = self.spark.sql(
            """
            SELECT d AS date,
                   weekofyear(d) AS week, year(d) AS year, month(d) AS month,
                   dayofweek(d) AS dayofweek, dayofmonth(d) AS dayofmonth,
                   dayofyear(d) AS dayofyear,
                   concat(year(d), '-', lpad(weekofyear(d), 2, '0')) AS week_part
            FROM (SELECT explode(sequence(date'2023-01-01', date'2023-12-31',
                                          interval 1 day)) AS d)
            """
        )
        self.store.write("date_lookup", dates)

    # -- bronze ------------------------------------------------------------

    def _bronze_sink(self, df: DataFrame, name: str, partition_by=()):
        writer = (
            df.writeStream.format("parquet")
            .outputMode("append")
            .option("path", os.path.join(self.bronze_dir, name))
            .option("checkpointLocation", os.path.join(self.ckpt, f"bz_{name}"))
            .queryName(f"bz_{name}")
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        return self._start(writer)

    def bronze_starters(self):
        """Three incremental bronze streams (reference
        ``Bronze/04-bronze.py``): two CSV feeds + the Kafka-envelope
        multiplex, which gets broadcast date enrichment and lands
        partitioned by (topic, week_part) → later topic filters are
        partition-pruned scans."""

        def users():
            df = read_csv_stream(
                self.spark,
                os.path.join(self.landing, "registered_users"),
                REGISTERED_USERS,
                max_files_per_trigger=None,
            )
            return self._bronze_sink(df, "registered_users_bz")

        def gyms():
            df = read_csv_stream(
                self.spark,
                os.path.join(self.landing, "gym_logins"),
                GYM_LOGINS,
                max_files_per_trigger=None,
            )
            return self._bronze_sink(df, "gym_logins_bz")

        def multiplex():
            date_dim = F.broadcast(
                self.store.read("date_lookup").select("date", "week_part")
            )
            df = read_json_stream(
                self.spark,
                os.path.join(self.landing, "kafka_multiplex"),
                KAFKA_ENVELOPE,
                max_files_per_trigger=None,
            )
            enriched = df.withColumn(
                "date", F.to_date((F.col("timestamp") / 1000).cast("timestamp"))
            ).join(date_dim, "date", "left")
            return self._bronze_sink(
                enriched, "kafka_multiplex_bz", partition_by=("topic", "week_part")
            )

        return [users, gyms, multiplex]

    def _bronze(self, name: str, stream: bool = True) -> DataFrame:
        path = os.path.join(self.bronze_dir, name)
        if not stream:
            return self.spark.read.parquet(path)
        schema = self.spark.read.parquet(path).schema
        return self.spark.readStream.schema(schema).parquet(path)

    def _multiplex_topic(self, topic: str, payload_schema) -> DataFrame:
        """Topic slice of the bronze multiplex with late JSON parse
        (reference ``Silver/05-silver.py:177-183``); the topic filter
        prunes partitions."""
        return (
            self._bronze("kafka_multiplex_bz")
            .filter(F.col("topic") == topic)
            .select(F.from_json("value", payload_schema).alias("v"))
            .select("v.*")
        )

    # -- silver wave 1: bronze → entity tables ------------------------------

    def _merge_sink(self, df: DataFrame, name: str, upsert):
        writer = (
            df.writeStream.foreachBatch(upsert)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.ckpt, f"sv_{name}"))
            .queryName(f"sv_{name}")
        )
        return self._start(writer)

    def silver_wave1_starters(self):
        store = self.store

        def users():
            # reference Silver/05-silver.py:71-97 (A4 insert-only)
            df = (
                self._bronze("registered_users_bz")
                .select(
                    "user_id",
                    "device_id",
                    "mac_address",
                    F.col("registration_timestamp")
                    .cast("timestamp")
                    .alias("registration_timestamp"),
                )
                .withWatermark("registration_timestamp", "365 days")
                .dropDuplicates(["user_id", "device_id"])
            )
            return self._merge_sink(
                df,
                "users",
                lambda b, _id: store.merge("users", b, ["user_id"], "insert_only"),
            )

        def gym_logs():
            # reference Silver/05-silver.py:119-139 (A5 conditional update:
            # late logout corrections win only if they extend the visit)
            df = (
                self._bronze("gym_logins_bz")
                .select(
                    "mac_address",
                    "gym",
                    F.col("login").cast("timestamp").alias("login"),
                    F.col("logout").cast("timestamp").alias("logout"),
                )
                .withWatermark("login", "365 days")
                .dropDuplicates(["mac_address", "gym", "login"])
            )
            return self._merge_sink(
                df,
                "gym_logs",
                lambda b, _id: store.merge(
                    "gym_logs",
                    b,
                    ["mac_address", "gym", "login"],
                    "conditional_update",
                    update_condition=lambda a, bb: F.col("b.logout")
                    > F.col("a.logout"),
                    update_cols=["logout"],
                ),
            )

        def user_profile():
            # reference Silver/05-silver.py:171-197 (A6 SCD-1 CDC with
            # rank-newest-within-batch, W2)
            df = (
                self._multiplex_topic("user_info", USER_INFO_PAYLOAD)
                .filter(F.col("update_type").isin(["new", "update"]))
                .select(
                    "user_id",
                    F.to_date("dob", "MM/dd/yyyy").alias("dob"),
                    "sex",
                    "gender",
                    "first_name",
                    "last_name",
                    F.col("address.street_address").alias("street_address"),
                    F.col("address.city").alias("city"),
                    F.col("address.state").alias("state"),
                    F.col("address.zip").alias("zip"),
                    F.col("timestamp").cast("timestamp").alias("updated"),
                )
                .withWatermark("updated", "365 days")
                .dropDuplicates(["user_id", "updated"])
            )

            def upsert(batch: DataFrame, _id: int) -> None:
                ranked = dedup.latest_by_key(batch, ["user_id"], "updated")
                store.merge("user_profile", ranked, ["user_id"], "scd1",
                            order_col="updated")

            return self._merge_sink(df, "user_profile", upsert)

        def workouts():
            # reference Silver/05-silver.py:223-242 (A7 insert-only)
            df = (
                self._multiplex_topic("workout", WORKOUT_PAYLOAD)
                .select(
                    "user_id",
                    F.col("timestamp").cast("timestamp").alias("time"),
                    "workout_id",
                    "action",
                    "session_id",
                )
                .withWatermark("time", "365 days")
                .dropDuplicates(["user_id", "time"])
            )
            return self._merge_sink(
                df,
                "workouts",
                lambda b, _id: store.merge(
                    "workouts", b, ["user_id", "time"], "insert_only"
                ),
            )

        def heart_rate():
            # reference Silver/05-silver.py:269-285 (A8 insert-only +
            # P6 validity flag)
            df = (
                self._multiplex_topic("bpm", BPM_PAYLOAD)
                .select(
                    "device_id",
                    F.col("time").cast("timestamp").alias("time"),
                    "heartrate",
                    validity_flag("heartrate").alias("valid"),
                    F.to_date(F.col("time").cast("timestamp")).alias("p_date"),
                )
                .withWatermark("time", "365 days")
                .dropDuplicates(["device_id", "time"])
            )
            return self._merge_sink(
                df,
                "heart_rate",
                lambda b, _id: store.merge(
                    "heart_rate", b, ["device_id", "time"], "insert_only"
                ),
            )

        return [users, gym_logs, user_profile, workouts, heart_rate]

    def completed_workouts_starter(self):
        """Stream-stream interval join straight off the bronze multiplex
        (reference J3, ``Silver/05-silver.py:368-400``): starts × stops,
        equi on (user_id, workout_id, session_id), stop within 3 h —
        the bounded condition is what lets Spark evict join state. It
        reads no silver table, so it runs in wave silver1.

        All DataFrame construction happens inside the returned thunk:
        the bronze multiplex table doesn't exist until the bronze wave
        has drained, and reading its schema eagerly would fail."""

        def start():
            joined = self._completed_workouts_stream()
            return self._merge_sink(
                joined,
                "completed_workouts",
                lambda b, _id: self.store.merge(
                    "completed_workouts",
                    b,
                    ["user_id", "workout_id", "session_id", "start_time"],
                    "insert_only",
                ),
            )

        return start

    def _completed_workouts_stream(self) -> DataFrame:
        starts = (
            self._multiplex_topic("workout", WORKOUT_PAYLOAD)
            .filter(F.col("action") == "start")
            .select(
                "user_id",
                "workout_id",
                "session_id",
                F.col("timestamp").cast("timestamp").alias("start_time"),
            )
            .withWatermark("start_time", "365 days")
        )
        stops = (
            self._multiplex_topic("workout", WORKOUT_PAYLOAD)
            .filter(F.col("action") == "stop")
            .select(
                F.col("user_id").alias("s_user_id"),
                F.col("workout_id").alias("s_workout_id"),
                F.col("session_id").alias("s_session_id"),
                F.col("timestamp").cast("timestamp").alias("end_time"),
            )
            .withWatermark("end_time", "365 days")
        )
        return starts.join(
            stops,
            (F.col("user_id") == F.col("s_user_id"))
            & (F.col("workout_id") == F.col("s_workout_id"))
            & (F.col("session_id") == F.col("s_session_id"))
            & (F.col("end_time") > F.col("start_time"))
            & (F.col("end_time") < F.col("start_time") + F.expr("interval 3 hours")),
            "inner",
        ).select("user_id", "workout_id", "session_id", "start_time", "end_time")

    def build_user_bins(self) -> None:
        """user_bins dimension (reference ``Silver/05-silver.py:325-346``,
        A9 SCD-1): users ⋈ user_profile + age bucketing. Incremental-
        batch recompute + upsert (Delta CDF streaming is the cluster
        path)."""
        users = self.store.read("users").select("user_id")
        profile = self.store.read("user_profile")
        bins = joins.broadcast_dim_join(profile, users, ["user_id"]).select(
            "user_id",
            age_bins("dob").alias("age"),
            "gender",
            "city",
            "state",
        )
        self.store.merge("user_bins", bins, ["user_id"], "scd1")

    def build_user_bins_incremental(self, timeout_sec: float) -> None:
        """user_bins maintained from user_profile's change stream — the
        reference's actual silver-on-silver shape (S4,
        ``Silver/05-silver.py:329-346``: user_bins streams the users
        table with ``ignoreChanges``). Each drained micro-batch holds
        only changed/new profiles; bins recompute for exactly those
        users and SCD-1 merge into the dim — O(changes), not O(users),
        per run. The drain is a one-query wave: past ``timeout_sec``
        the query is stopped and ``TimeoutError`` raised."""
        users = self.store.read("users").select("user_id")

        def upsert(batch: DataFrame, _id: int) -> None:
            profiles = dedup.latest_by_key(
                batch.drop("_change_type", "_commit_version"),
                ["user_id"],
                "updated",
            )
            bins = joins.broadcast_dim_join(profiles, users, ["user_id"]).select(
                "user_id",
                age_bins("dob").alias("age"),
                "gender",
                "city",
                "state",
            )
            self.store.merge("user_bins", bins, ["user_id"], "scd1")

        self._drain_changes(
            "user_profile", "sv_user_bins_cdf", "user_bins", upsert, timeout_sec
        )

    def _drain_changes(
        self, table: str, query: str, wave: str, upsert, timeout_sec: float
    ) -> None:
        """Drain ``table``'s change feed through ``upsert`` (a
        foreachBatch function) as the one-query wave ``wave``."""

        def start():
            return (
                self.store.stream_changes(table)
                .writeStream.foreachBatch(upsert)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(self.ckpt, query))
                .queryName(query)
                .trigger(availableNow=True)
                .start()
            )

        run_waves(self.spark, [StreamWave(wave, [start])], timeout_sec=timeout_sec)

    # -- silver wave 3 ------------------------------------------------------

    def workout_bpm_starter(self):
        """BPM-to-session alignment (reference J4,
        ``Silver/05-silver.py:433-465``): the heart-rate *stream*
        interval-joined against the completed-session table enriched
        with the users dimension (stream⋈static — the static side is
        complete because wave barriers ran first)."""
        sessions = F.broadcast(
            self.store.read("completed_workouts")
            .join(
                self.store.read("users").select("user_id", "device_id"),
                "user_id",
            )
            .withColumnRenamed("device_id", "s_device_id")
        )
        bpm = (
            self._multiplex_topic("bpm", BPM_PAYLOAD)
            .filter(F.col("heartrate") > 0)
            .withColumn("time", F.col("time").cast("timestamp"))
            .withWatermark("time", "365 days")
        )
        joined = bpm.join(
            sessions,
            (F.col("device_id") == F.col("s_device_id"))
            & (F.col("time") > F.col("start_time"))
            & (F.col("time") <= F.col("end_time")),
            "inner",
        ).select(
            "user_id",
            "workout_id",
            "session_id",
            "time",
            "start_time",
            "end_time",
            "heartrate",
            F.to_date("time").alias("p_date"),
        )

        def start():
            return self._merge_sink(
                joined,
                "workout_bpm",
                lambda b, _id: self.store.merge(
                    "workout_bpm",
                    b,
                    ["user_id", "workout_id", "session_id", "time"],
                    "insert_only",
                ),
            )

        return start

    # -- gold ---------------------------------------------------------------

    GOLD_KEYS = ["user_id", "workout_id", "session_id", "start_time", "end_time"]
    GOLD_MEASURES = ["age", "gender", "city", "state", "min_bpm",
                     "avg_bpm", "max_bpm", "num_recordings"]

    def _bpm_summary(self, wb: DataFrame) -> DataFrame:
        """Session stats ⋈ user_bins over a workout_bpm slice
        (reference ``Gold/06-gold.py:93-101``, A1 + J5)."""
        stats = session_stats(wb, self.GOLD_KEYS, value="heartrate")
        bins = F.broadcast(self.store.read("user_bins"))
        return stats.join(bins, "user_id").select(
            *self.GOLD_KEYS,
            "age",
            "gender",
            "city",
            "state",
            F.col("min_heartrate").alias("min_bpm"),
            F.col("avg_heartrate").alias("avg_bpm"),
            F.col("max_heartrate").alias("max_bpm"),
            "num_recordings",
            F.to_date("end_time").alias("p_date"),
        )

    def _merge_gold(self, summary: DataFrame) -> None:
        self.store.merge(
            "workout_bpm_summary",
            summary,
            self.GOLD_KEYS,
            "full_upsert",
            update_cols=self.GOLD_MEASURES,
        )

    def build_gold(self) -> None:
        """workout_bpm_summary (reference ``Gold/06-gold.py:86-112``,
        A1 + J5 + A12): per-session stats ⋈ user_bins, full upsert of
        the measure columns (sessions grow as late bpm lands)."""
        self._merge_gold(self._bpm_summary(self.store.read("workout_bpm")))

    def build_gold_incremental(self, timeout_sec: float) -> None:
        """workout_bpm_summary maintained from workout_bpm's change
        stream — the reference's actual gold shape
        (``Gold/06-gold.py:86-112``: the summary MERGE *streams*
        workout_bpm with ``startingVersion`` and an update-mode
        session aggregation). Each drained micro-batch holds only the
        bpm rows the last silver merges inserted; the distinct session
        keys they touch prune the workout_bpm scan via a broadcast
        left-semi join, and stats recompute for exactly those sessions
        before the full_upsert — O(new rows + touched-session re-agg)
        per run, not O(workout_bpm). Late bpm re-touches its session
        and the upsert refreshes the stats, converging to the batch
        answer (same as the reference's update-mode streaming agg).
        Touched-key broadcast is bounded by the micro-batch, not the
        table; a from-zero backfill batch degenerates to the full
        recompute, which is the correct cost for that case. The drain
        is a one-query wave: past ``timeout_sec`` the query is stopped
        and ``TimeoutError`` raised."""

        def upsert(batch: DataFrame, _id: int) -> None:
            touched = batch.select(*self.GOLD_KEYS).distinct()
            wb = self.store.read("workout_bpm").join(
                F.broadcast(touched), self.GOLD_KEYS, "left_semi"
            )
            self._merge_gold(self._bpm_summary(wb))

        self._drain_changes(
            "workout_bpm", "gd_bpm_summary_cdf", "gold", upsert, timeout_sec
        )

    def summary_slices(self) -> DataFrame:
        """Gold dashboard GROUPING SETS (reference report figs
        7.1–7.5: workout BPM by age, by state, by gender — SURVEY
        §2.4's "exactly a grouping-sets workload"): the by-age /
        by-state / by-gender / age×gender / grand-total slices of
        ``workout_bpm_summary`` in ONE scan + expand instead of five
        scans. The per-slice mean is recording-weighted
        (Σ avg·n / Σ n), i.e. the mean over raw bpm readings, not a
        mean of session means — sessions with more recordings count
        proportionally, matching what re-aggregating heart_rate would
        give. At 100 TB the expand is map-side and the single shuffle
        keys on the (few-valued) slice tuple; the value-level twin of
        this plan is driver-certified per round as the catalog query
        ``fitbit_summary_slices``."""
        s = self.store.read("workout_bpm_summary")
        base = s.select(
            "age",
            "gender",
            "state",
            (F.col("avg_bpm") * F.col("num_recordings")).alias("bpm_wsum"),
            "num_recordings",
            "min_bpm",
            "max_bpm",
        )
        return (
            base.groupingSets(
                [["age"], ["state"], ["gender"], ["age", "gender"], []],
                "age",
                "state",
                "gender",
            )
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                (F.sum("bpm_wsum") / F.sum("num_recordings")).alias("avg_bpm"),
                F.min("min_bpm").alias("min_bpm"),
                F.max("max_bpm").alias("max_bpm"),
            )
        )

    def gym_summary(self) -> DataFrame:
        """Lazy reporting view (reference ``Setup/02-setup.py:244-256``):
        gym visits ⋈ sessions via mac equi + BETWEEN range join, with
        minutes math."""
        logs = self.store.read("gym_logs")
        cw = self.store.read("completed_workouts").join(
            self.store.read("users").select("user_id", "mac_address"), "user_id"
        )
        j = joins.range_join(
            cw, logs, ["mac_address"], point="start_time", low="login", high="logout"
        )
        return j.select(
            F.to_date(F.col("r.login")).alias("date"),
            F.col("r.gym").alias("gym"),
            F.col("l.mac_address").alias("mac_address"),
            F.col("l.workout_id").alias("workout_id"),
            F.col("l.session_id").alias("session_id"),
            minutes_between(F.col("r.logout"), F.col("r.login")).alias(
                "minutes_in_gym"
            ),
            minutes_between(F.col("l.end_time"), F.col("l.start_time")).alias(
                "minutes_exercising"
            ),
        ).orderBy("date", "gym", "mac_address", "session_id")

    SQL_TABLES = (
        "date_lookup users gym_logs user_profile workouts heart_rate "
        "user_bins completed_workouts workout_bpm workout_bpm_summary"
    ).split()

    # Reference Setup/02-setup.py:244-256 verbatim, minus the
    # `{catalog}.{db_name}.` prefix and with TEMPORARY added (the
    # in-memory catalog can't persist a view over temp views).
    GYM_SUMMARY_VIEW_SQL = """CREATE OR REPLACE TEMPORARY VIEW gym_summary AS
                    SELECT to_date(login::timestamp) date,
                    gym, l.mac_address, workout_id, session_id,
                    round((logout::long - login::long)/60,2) minutes_in_gym,
                    round((end_time::long - start_time::long)/60,2) minutes_exercising
                    FROM gym_logs l
                    JOIN (
                    SELECT mac_address, workout_id, session_id, start_time, end_time
                    FROM completed_workouts w INNER JOIN users u ON w.user_id = u.user_id) w
                    ON l.mac_address = w.mac_address
                    AND w. start_time BETWEEN l.login AND l.logout
                    order by date, gym, l.mac_address, session_id
                """

    def register_sql_catalog(self) -> None:
        """Expose the medallion tables and the gym_summary view to
        ``spark.sql`` (reference S11/O1, ``Setup/02-setup.py:18-259``):
        every TableStore table becomes a session temp view under its
        reference name, and gym_summary is created with the
        reference's VIEW SQL — a user coming from the reference can
        run ``spark.sql("SELECT * FROM gym_summary")`` unchanged.

        Re-run after each pipeline ``run()``: temp views capture the
        table's current version path, and re-registering re-resolves
        the pointer (the Delta-catalog analog of version pinning).
        """
        for n in self.SQL_TABLES:
            if self.store.exists(n):
                self.store.read(n).createOrReplaceTempView(n)
        self.spark.sql(self.GYM_SUMMARY_VIEW_SQL)

    # -- orchestration ------------------------------------------------------

    def run(self, timeout_sec: int = 600) -> dict[str, list[str]]:
        """One full incremental drain: bronze wave → silver wave 1 (the
        five entity streams and the completed_workouts interval join,
        which reads only the bronze multiplex) → user_bins → silver
        wave 3 (workout_bpm, which reads completed_workouts) → gold.
        Mirrors the reference driver (``Test Scripts/07-run.py``); the
        reference's wave 2 is folded into wave 1 (module docstring).
        Bronze and silver queries skip no-data micro-batches, so each
        stream runs only the batches that carry rows.

        Drain mode only: live (``available_now=False``) queries never
        terminate, so a wave barrier could only time out. Live mode is
        driven through the starters (``bronze_starters``,
        ``silver_wave1_starters``), which start the same queries."""
        if not self.available_now:
            raise ValueError(
                "FitbitPipeline.run() drains with availableNow triggers; "
                "a live (available_now=False) pipeline never terminates. "
                "Start its queries through bronze_starters() and "
                "silver_wave1_starters() and stop them when done."
            )
        if not self.store.exists("date_lookup"):
            self.load_date_lookup()
        silver1 = self.silver_wave1_starters() + [self.completed_workouts_starter()]
        report = run_waves(
            self.spark,
            [
                StreamWave("bronze", self.bronze_starters(), pool="bronze"),
                StreamWave("silver1", silver1, pool="silver"),
            ],
            timeout_sec=timeout_sec,
        )
        if self.incremental_dims:
            self.build_user_bins_incremental(timeout_sec)
        else:
            self.build_user_bins()
        report.update(
            run_waves(
                self.spark,
                [StreamWave("silver3", [self.workout_bpm_starter()], pool="silver")],
                timeout_sec=timeout_sec,
            )
        )
        if self.incremental_dims:
            self.build_gold_incremental(timeout_sec)
        else:
            self.build_gold()
        return report

    def table_counts(self) -> dict[str, int]:
        names = (
            "users gym_logs user_profile workouts heart_rate user_bins "
            "completed_workouts workout_bpm workout_bpm_summary"
        ).split()
        return {n: self.store.read(n).count() for n in names}
