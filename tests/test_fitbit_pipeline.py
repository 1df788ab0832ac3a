"""Two-set incremental replay of the Fitbit medallion pipeline — the
reference's own E2E test strategy (``Test Scripts/08-batch-test.py``):
produce set 1 → run → assert golden counts → produce set 2 → run →
assert cumulative counts. Proves incrementality (checkpoints pick up
only new files) and idempotency (merges don't duplicate on replay).
"""

from __future__ import annotations

import datetime
import time

import pytest
from pyspark.sql import functions as F

from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
    fitbit_fixtures as fx,
)
from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans.fitbit import (
    FitbitPipeline,
)


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("fitbit"))


def test_two_set_replay(spark, workdir):
    pipe = FitbitPipeline(spark, workdir)

    set1 = fx.generate_set(1)
    fx.write_landing(set1, pipe.landing)
    pipe.run()
    expected1 = fx.expected_counts([set1])
    counts1 = pipe.table_counts()
    assert counts1 == expected1, f"after set 1: {counts1} != {expected1}"

    # gold measures: spot-check one session against raw fixture data
    summary = pipe.store.read("workout_bpm_summary")
    assert summary.filter("min_bpm <= avg_bpm AND avg_bpm <= max_bpm").count() == (
        summary.count()
    )

    set2 = fx.generate_set(2)
    fx.write_landing(set2, pipe.landing)
    pipe.run()
    expected2 = fx.expected_counts([set1, set2])
    counts2 = pipe.table_counts()
    assert counts2 == expected2, f"after set 2: {counts2} != {expected2}"

    # replay set 2's run with no new files: counts must not move
    pipe.run()
    assert pipe.table_counts() == expected2, "replay was not idempotent"

    # gym_summary view: every session lies inside its gym visit
    gs = pipe.gym_summary()
    rows = gs.collect()
    assert len(rows) == expected2["completed_workouts"]
    assert all(r.minutes_exercising <= r.minutes_in_gym for r in rows)

    # gold dashboard slices (figs 7.1-7.5): one grouping-sets pass must
    # equal the per-dimension aggregations computed independently
    slices = {
        (r.age, r.state, r.gender): r for r in pipe.summary_slices().collect()
    }
    summary = pipe.store.read("workout_bpm_summary")  # set-2 version
    total = summary.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("avg_bpm") * F.col("num_recordings"))
            / F.sum("num_recordings")
        ).alias("avg"),
    ).first()
    grand = slices[(None, None, None)]
    assert grand.n_sessions == total["n"] == summary.count()
    assert abs(grand.avg_bpm - total["avg"]) < 1e-9
    by_gender = {
        r["gender"]: r
        for r in summary.groupBy("gender")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for g, row in by_gender.items():
        assert slices[(None, None, g)].n_sessions == row["n"]
    # every age slice count sums to the grand total, ditto states
    for dim in ("age", "state"):
        dim_rows = [
            r
            for (a, s, g), r in slices.items()
            if (a if dim == "age" else s) is not None and g is None
            and (s if dim == "age" else a) is None
        ]
        assert sum(r.n_sessions for r in dim_rows) == grand.n_sessions


def test_replay_runs_only_micro_batches_with_rows(spark, tmp_path):
    """Pipeline queries start with no-data micro-batches off, scoped to
    their start(): over a two-set replay no bronze or silver batch runs
    without input rows, the session setting is unchanged, and a
    watermarked dedup started afterwards outside the pipeline still runs
    its no-data batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.ended, self.batches = set(), []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append((event.progress.name, event.progress.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.ended.add(event.runId)

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key, None)
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        pipe = FitbitPipeline(spark, str(tmp_path))
        sets = []
        for i in (1, 2):
            sets.append(fx.generate_set(i, n_users=2))
            fx.write_landing(sets[-1], pipe.landing)
            runs = pipe.run()
        assert pipe.table_counts() == fx.expected_counts(sets)
        # events arrive on the listener bus after run() returns; a
        # query's progress events come before its termination event
        n_queries = 2 * sum(len(names) for names in runs.values())
        deadline = time.time() + 60
        while len(listener.ended) < n_queries and time.time() < deadline:
            time.sleep(0.2)
        assert len(listener.ended) == n_queries
    finally:
        spark.streams.removeListener(listener)
    pipeline = [b for b in listener.batches if b[0].startswith(("bz_", "sv_"))]
    assert {name for name, _ in pipeline} == {
        name for names in runs.values() for name in names
    }
    assert [b for b in pipeline if b[1] == 0] == []
    assert spark.conf.get(key, None) == before

    src = str(tmp_path / "dedup_src")
    t0 = datetime.datetime(2023, 1, 1)
    spark.createDataFrame(
        [(k, t0 + datetime.timedelta(minutes=k)) for k in range(3)],
        "k long, ts timestamp",
    ).write.parquet(src)
    q = (
        spark.readStream.schema("k long, ts timestamp").parquet(src)
        .withWatermark("ts", "0 seconds")
        .dropDuplicates(["k"])
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 0]


def test_optimize_after_replay_restores_disjoint_ranges_and_pruning(
    spark, workdir
):
    """Round-3 verdict #7: the trickle-merge story depends on
    compaction cadence (per-merge range clustering was dropped for its
    ~40% E2E cost — commit c912a2c). Prove the cadence works at E2E
    scale: after the two-set replay's accumulated merges,
    ``TableStore.optimize`` restores file-disjoint merge-key ranges in
    every partition of the merge-heavy fact table, and a post-optimize
    single-key merge prunes to exactly ONE rewritten file (every other
    file hard-link-survives by inode)."""
    import os

    pipe = FitbitPipeline(spark, workdir)
    store = pipe.store
    table = "heart_rate"  # p_date-partitioned, merged every batch

    rows_before = {
        (r["device_id"], r["time"]): r["heartrate"]
        for r in store.read(table).collect()
    }
    store.optimize(table)
    assert {
        (r["device_id"], r["time"]): r["heartrate"]
        for r in store.read(table).collect()
    } == rows_before, "optimize changed data"

    current = store.current_path(table)
    stats = store._version_meta(current)["file_stats"]
    assert stats["key"] == "device_id"
    by_dir: dict[str, list[tuple[int, int]]] = {}
    for relpath, (lo, hi) in stats["files"].items():
        by_dir.setdefault(relpath.split("/")[0], []).append((int(lo), int(hi)))
    assert by_dir, "no file stats recorded"
    for d, ranges in by_dir.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, (
                f"overlapping post-optimize key ranges in {d}: "
                f"[{lo1},{hi1}] vs [{lo2},{hi2}]"
            )

    def inode_map(path):
        out = {}
        for entry in os.listdir(path):
            pdir = os.path.join(path, entry)
            if not os.path.isdir(pdir):
                continue
            for fname in os.listdir(pdir):
                if fname.endswith(".parquet"):
                    out[f"{entry}/{fname}"] = os.stat(
                        os.path.join(pdir, fname)
                    ).st_ino
        return out

    files_before = inode_map(current)
    # a single existing row as the merge source: insert_only dedups it
    # (no data change), but the merge still rewrites whichever files
    # could contain the key — post-optimize that must be exactly one
    src = store.read(table).limit(1)
    store.merge(table, src, ["device_id", "time"], "insert_only")
    files_after = inode_map(store.current_path(table))
    surviving = sum(
        1 for f, ino in files_before.items() if files_after.get(f) == ino
    )
    assert surviving == len(files_before) - 1, (
        f"expected exactly 1 rewritten file, got "
        f"{len(files_before) - surviving} of {len(files_before)}"
    )


def test_scd1_update_wins(spark, workdir):
    """CDC updates must overwrite the 'new' profile (reference A6)."""
    pipe = FitbitPipeline(spark, workdir)
    profiles = pipe.store.read("user_profile")
    updated = profiles.filter("last_name LIKE '%Updated'").count()
    set1 = fx.generate_set(1)
    set2 = fx.generate_set(2)
    n_updates = sum(
        1
        for s in (set1, set2)
        for r in s.user_info
        if r["update_type"] == "update"
    )
    assert updated == n_updates
    # one row per user regardless of update count
    assert profiles.count() == profiles.select("user_id").distinct().count()


def test_sql_surface_reference_view(spark, workdir):
    """S11/O1: the reference's gym_summary VIEW SQL runs verbatim
    (minus catalog prefix) against the registered SQL catalog, and
    matches the DataFrame form order-insensitively."""
    pipe = FitbitPipeline(spark, workdir)
    pipe.register_sql_catalog()

    # DDL surface: all 10 medallion tables visible to SQL
    listed = {t.name for t in spark.catalog.listTables()}
    for n in pipe.SQL_TABLES:
        assert n in listed, n
    assert "gym_summary" in listed

    via_sql = spark.sql(
        "SELECT * FROM gym_summary"
    ).collect()
    via_df = pipe.gym_summary().collect()
    assert sorted(map(tuple, via_sql), key=repr) == sorted(
        map(tuple, via_df), key=repr
    )
    assert {r.session_id for r in via_sql} == {
        r["session_id"]
        for r in spark.sql("SELECT session_id FROM completed_workouts").collect()
    }

    # ad-hoc SQL over silver works like the reference's validate()
    n_users = spark.sql("SELECT count(*) AS n FROM users").collect()[0]["n"]
    assert n_users == pipe.store.read("users").count()


def test_incremental_dims_matches_batch(spark, tmp_path):
    """S4 silver-on-silver: user_bins maintained from user_profile's
    CDF-lite change stream must equal the full-recompute dim across a
    two-set incremental replay."""
    pipe = FitbitPipeline(spark, str(tmp_path), incremental_dims=True)
    set1 = fx.generate_set(1)
    fx.write_landing(set1, pipe.landing)
    pipe.run()
    set2 = fx.generate_set(2)
    fx.write_landing(set2, pipe.landing)
    pipe.run()
    assert pipe.table_counts() == fx.expected_counts([set1, set2])

    # the incremental dim equals what a full recompute would build
    incremental = {
        tuple(r) for r in pipe.store.read("user_bins").collect()
    }
    pipe.build_user_bins()  # overwrite with the batch recompute
    batch = {tuple(r) for r in pipe.store.read("user_bins").collect()}
    assert incremental == batch

    # gold maintained from workout_bpm's change stream equals the
    # full recompute (reference Gold/06-gold.py streaming-agg shape)
    incr_gold = {
        tuple(r) for r in pipe.store.read("workout_bpm_summary").collect()
    }
    pipe.build_gold()  # overwrite with the batch recompute
    batch_gold = {
        tuple(r) for r in pipe.store.read("workout_bpm_summary").collect()
    }
    assert incr_gold == batch_gold

    # fact tables created through the declared spec are date-partitioned
    # (merge #2 onward rewrote only the batch's p_date partitions)
    import os

    for t in ("heart_rate", "workout_bpm", "workout_bpm_summary"):
        path = pipe.store.current_path(t)
        assert any(e.startswith("p_date=") for e in os.listdir(path)), t
