"""Live-trigger streaming E2E — the reference's stream test
(``Test Scripts/09-stream-test.py:64-93``): bronze + silver wave 1 run
with ``processingTime`` triggers (NOT availableNow) while a producer
thread lands fixture set 2 mid-flight; the pipeline must converge to
the golden counts and shut down cleanly.

This exercises the non-drain branch of the dual-mode trigger
(``FitbitPipeline._start`` / reference ``Bronze/04-bronze.py:39-42``)
that every other test leaves cold.
"""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
    fitbit_fixtures as fx,
)
from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans.fitbit import (
    FitbitPipeline,
)

LIVE_TABLES = ["users", "gym_logs", "user_profile", "workouts", "heart_rate"]


def test_live_processing_time_convergence(spark, tmp_path):
    workdir = str(tmp_path)

    # set 1 via the batch path: establishes bronze schemas, silver
    # tables, and checkpoints the live queries resume from
    batch_pipe = FitbitPipeline(spark, workdir)
    set1 = fx.generate_set(1)
    fx.write_landing(set1, batch_pipe.landing)
    batch_pipe.run()

    live = FitbitPipeline(
        spark, workdir, available_now=False, processing_time="1 seconds"
    )
    queries = [s() for s in live.bronze_starters()]
    queries += [s() for s in live.silver_wave1_starters()]

    set2 = fx.generate_set(2)

    def produce_late():
        time.sleep(3)  # queries are live before files land
        fx.write_landing(set2, live.landing)

    producer = threading.Thread(target=produce_late)
    producer.start()

    expected = fx.expected_counts([set1, set2])
    want = {k: expected[k] for k in LIVE_TABLES}
    deadline = time.time() + 180
    got: dict[str, int] = {}
    def poll_counts() -> dict[str, int] | None:
        # a reader can still lose the version-retention race if it
        # falls >keep_versions merges behind; retry like a Delta
        # reader would after VACUUM
        try:
            return {n: live.store.read(n).count() for n in LIVE_TABLES}
        except Exception:
            return None

    try:
        while time.time() < deadline:
            got = poll_counts() or got
            if got == want:
                break
            time.sleep(2)
        assert got == want, f"never converged: {got} != {want}"
        # prove this really ran as repeated micro-batches, not one drain
        assert any(len(q.recentProgress) > 1 for q in queries)
    finally:
        producer.join()
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(30)
    # clean shutdown: no query died with an exception
    for q in queries:
        assert q.exception() is None

    # counts hold after shutdown (no half-applied merge)
    final = {n: live.store.read(n).count() for n in LIVE_TABLES}
    assert final == want


def test_stateful_sessionize_event_time_timeout(spark, tmp_path):
    """EventTimeTimeout actually fires across micro-batches: key 1's
    first session closes by DATA (a too-late row in the same batch);
    its second session closes by TIMER when a later batch from another
    key advances the event-time watermark past end + gap."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.streaming import (
        ops as stream_ops,
    )

    t0 = 1_700_000_000  # epoch seconds
    gap = 60

    def write_file(i, rows):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [int(r[1] * 1_000_000) for r in rows],
                    pa.timestamp("us"),
                ),
            }
        )
        p = str(tmp_path / f"part-{i:05d}.parquet")
        pq.write_table(tbl, p)
        base = _time.time() - 600
        import os as _os

        _os.utime(p, (base + i, base + i))

    # batch 1: key 1 — session A (3 rows), then a far row -> session A
    # closes by data, session B opens
    write_file(0, [(1, t0), (1, t0 + 10), (1, t0 + 20), (1, t0 + 500)])
    # batch 2: key 2, far in the future -> watermark jumps past
    # session B's end + gap
    write_file(1, [(2, t0 + 10_000)])
    # batch 3: key 3, even later -> the batch where key 1's timer fires
    write_file(2, [(3, t0 + 20_000)])

    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .load(str(tmp_path))
    )
    sessions = stream_ops.stateful_sessionize(
        stream, key="user_id", event_time="ts", gap_seconds=gap
    )
    stats: dict = {}
    sink = stream_ops.run_stream_to_memory(
        sessions, output_mode="append", stats_out=stats
    )
    rows = {
        (r["user_id"], int(r["session_start"].timestamp()), r["n"])
        for r in sink.collect()
    }
    assert stats["num_batches"] >= 3, stats
    # session A: closed by data within batch 1
    assert (1, t0, 3) in rows, rows
    # session B: closed by the TIMER (no further key-1 data ever came)
    assert (1, t0 + 500, 1) in rows, rows
    # key 2's timer fires too: batch 3's data pushed the watermark past
    # its end + gap, and availableNow runs a final timeout-only batch
    assert (2, t0 + 10_000, 1) in rows, rows
    # key 3 stays open — the watermark never passed ITS end + gap
    assert not any(k == 3 for k, _, _ in rows), rows


def test_interval_join_tight_watermark_evicts_state(spark, tmp_path):
    """J3 interval-join state is bounded by the WATERMARK, not the
    input (round-11 verdict perf watch item): under a tight watermark
    the per-batch state-row series must actually shrink as bands of
    matched starts/ends age past the eviction bound — the state never
    accumulates the whole drain. (The catalog's 365-day watermark
    keeps everything by DESIGN — reference T1; see SCALE.md
    'Interval-join state posture'.) Results stay exact throughout."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.streaming import (
        ops as stream_ops,
    )

    t0 = 1_700_000_000
    n_users, n_bands = 20, 6
    sdir = tmp_path / "starts"
    edir = tmp_path / "ends"
    sdir.mkdir()
    edir.mkdir()
    base = _time.time() - 600

    def write(dirp, i, col, rows):
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                col: pa.array(
                    [int(r[1] * 1_000_000) for r in rows],
                    pa.timestamp("us"),
                ),
            }
        )
        p = str(dirp / f"part-{i:05d}.parquet")
        pq.write_table(tbl, p)
        _os.utime(p, (base + i, base + i))

    # band i: every user starts at t0+i*3600+u and ends 10s later —
    # matches only within its band (max_interval 30s << band gap 1h)
    for i in range(n_bands):
        write(sdir, i, "ts",
              [(u, t0 + i * 3600 + u) for u in range(n_users)])
        write(edir, i, "te",
              [(u, t0 + i * 3600 + u + 10) for u in range(n_users)])
    # watermark-closing sentinel: far-future rows push the watermark
    # past every band in the final batch, flushing remaining state
    far = t0 + 100 * 3600
    write(sdir, n_bands, "ts", [(9999, far)])
    write(edir, n_bands, "te", [(9999, far + 10)])

    def read(dirp, col):
        return (
            spark.readStream.format("parquet")
            .schema(f"user_id long, {col} timestamp")
            .option("maxFilesPerTrigger", "1")
            .load(str(dirp))
        )

    joined = stream_ops.streaming_interval_join(
        read(sdir, "ts"),
        read(edir, "te"),
        equi_keys=["user_id"],
        start_time="ts",
        end_time="te",
        max_interval="interval 30 seconds",
        watermark="60 seconds",
    ).select(
        F.col("s.user_id").alias("uid"), F.col("s.ts"), F.col("e.te")
    )
    stats: dict = {}
    sink = stream_ops.run_stream_to_memory(
        joined, output_mode="append", stats_out=stats
    )
    got = {
        (r["uid"], int(r["ts"].timestamp()), int(r["te"].timestamp()))
        for r in sink.collect()
        if r["uid"] != 9999
    }
    want = {
        (u, t0 + i * 3600 + u, t0 + i * 3600 + u + 10)
        for i in range(n_bands)
        for u in range(n_users)
    }
    assert got == want  # exact results under the tight watermark

    series = stats["state_rows_total"]
    assert stats["num_batches"] >= n_bands, stats
    total_input = 2 * n_users * n_bands + 2
    # state never accumulates the drain: the peak stays well below
    # total input, and eviction actually ran — the series SHRINKS
    # (removals) rather than only growing
    assert max(series) < total_input // 2, series
    assert series[-1] < max(series), series
    assert any(b < a for a, b in zip(series, series[1:])), series


def test_stream_changes_delivers_crash_recovered_publish(spark, tmp_path):
    """A LIVE stream_changes consumer and a commit whose publish
    crashed (r13 staged-CDF): the stream must not see phantom rows
    while the records sit staged, and must deliver them in a LATER
    micro-batch once any recovery pass completes the publish — the
    'delayed, never lost' contract for live feed consumers (new files
    hard-linked into the changelog dir are fresh paths, so the file
    source's incremental listing discovers them)."""
    import os
    import time
    import uuid

    from pyspark.sql import Row

    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        TableStore,
    )

    store = TableStore(
        spark, str(tmp_path), keep_versions=5, changelog=True
    )
    store.write("t", spark.createDataFrame(
        [Row(k=i, v=0) for i in range(8)]
    ))
    sink = f"feed_sink_{uuid.uuid4().hex[:8]}"
    q = (
        store.stream_changes("t")
        .writeStream.format("memory")
        .queryName(sink)
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "_ckpt")
        )
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {sink}").first()["c"] >= 8:
                break
            time.sleep(0.5)
        assert (
            spark.sql(f"SELECT count(*) c FROM {sink}").first()["c"] == 8
        ), "create records never arrived"

        # a commit whose publish crashed: staged rows, feed untouched
        orig = TableStore._publish_staged
        TableStore._publish_staged = lambda self, name: 0
        try:
            store.merge(
                "t",
                spark.createDataFrame([Row(k=3, v=33), Row(k=9, v=99)]),
                ["k"],
                policy="scd1",
            )
        finally:
            TableStore._publish_staged = orig
        time.sleep(3)  # several live batches pass
        assert (
            spark.sql(
                f"SELECT count(*) c FROM {sink} WHERE k IN (3, 9) AND v > 0"
            ).first()["c"]
            == 0
        ), "staged (unpublished) change rows leaked into a live stream"

        # ANY recovery pass completes the publish (here: a batch read)
        store.read_changes("t").count()
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql(
                f"SELECT count(*) c FROM {sink} WHERE k IN (3, 9) AND v > 0"
            ).first()["c"]
            if n == 2:
                break
            time.sleep(0.5)
        got = {
            (r["k"], r["v"], r["_change_type"])
            for r in spark.sql(
                f"SELECT * FROM {sink} WHERE k IN (3, 9) AND v > 0"
            ).collect()
        }
        assert got == {
            (3, 33, "update_postimage"),
            (9, 99, "insert"),
        }, got
    finally:
        q.stop()


def test_live_run_fails_fast(spark, tmp_path):
    """run() drains; on a live pipeline it raises before it starts a
    query or writes a table, instead of timing out with streams left
    running."""
    live = FitbitPipeline(spark, str(tmp_path), available_now=False)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="starters"):
        live.run()
    assert {q.id for q in spark.streams.active} == active
    assert not live.store.exists("date_lookup")


def test_run_waves_stops_the_wave_and_resets_the_pool(spark, tmp_path):
    """A failed or timed-out wave leaves none of its queries running
    and its scheduler pool unset."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.streaming.orchestrator import (
        StreamWave,
        run_waves,
    )

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    started = []

    def live():
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / f"ck_live{len(started)}"))
            .trigger(processingTime="1 second")
            .start()
        )
        started.append(q)
        return q

    def failing():
        def boom(_batch, _id):
            raise RuntimeError("batch failed")

        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.foreachBatch(boom)
            .option("checkpointLocation", str(tmp_path / "ck_failing"))
            .trigger(availableNow=True)
            .start()
        )
        started.append(q)
        return q

    sc = spark.sparkContext
    with pytest.raises(Exception, match="batch failed"):
        run_waves(spark, [StreamWave("w", [failing, live], pool="p")])
    with pytest.raises(TimeoutError, match="did not drain within 2s"):
        run_waves(spark, [StreamWave("w", [live], pool="p")], timeout_sec=2)
    assert len(started) == 3
    active = {q.id for q in spark.streams.active}
    assert not active & {q.id for q in started}
    assert sc.getLocalProperty("spark.scheduler.pool") is None


@pytest.mark.parametrize(
    "step, table",
    [
        ("build_user_bins_incremental", "user_profile"),
        ("build_gold_incremental", "workout_bpm"),
    ],
)
def test_change_feed_step_times_out(spark, tmp_path, step, table):
    """A change-feed dimension step that outlives its timeout raises
    and leaves no query running, instead of returning while its
    stream still maintains the table."""
    pipe = FitbitPipeline(spark, str(tmp_path), incremental_dims=True)
    ids = spark.range(50).withColumnRenamed("id", "user_id")
    pipe.store.write("users", ids)
    pipe.store.write(table, ids)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="did not drain"):
        getattr(pipe, step)(0.001)
    assert {q.id for q in spark.streams.active} == active
