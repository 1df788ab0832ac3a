"""Column mapping — the Delta ``ALTER TABLE RENAME/DROP COLUMN``
analog (metadata-only schema changes over immutable parquet files).

Reference parity: the reference's Delta tables would use column
mapping (``delta.columnMapping.mode``) for this; the TableStore
reproduces the semantics — versioned logical->physical mapping in
each version's commit record, zero data rewritten on rename/drop, no
resurrection on re-add, CDF schema-break contract — over plain
parquet.
"""
from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
    ConcurrentWriteError,
    TableStore,
)
from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators import (
    skipping,
)


def _inodes(version_dir: str) -> dict[str, int]:
    return {
        os.path.relpath(f, version_dir): os.stat(f).st_ino
        for f in glob.glob(
            os.path.join(version_dir, "**", "*.parquet"), recursive=True
        )
    }


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, val long",
    )


def test_rename_is_metadata_only_and_versioned(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    v1 = store.current_path("t")
    store.rename_column("t", "val", "amount")
    v2 = store.current_path("t")
    # zero data movement: every parquet file shares its inode
    assert _inodes(v1) == _inodes(v2)
    assert store.read("t").columns == ["k", "name", "amount"]
    got = {r["k"]: r["amount"] for r in store.read("t").collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}
    # time travel surfaces the mapping AS OF each version
    assert "val" in store.read_at("t", 0).columns
    assert "amount" not in store.read_at("t", 0).columns
    ops = [r["operation"] for r in store.history("t").collect()]
    assert "rename_column" in ops


def test_pruned_merge_after_rename_writes_physical(spark, tmp_path):
    """Post-rename merges keep writing the PHYSICAL column so their
    fresh files stay byte-compatible with hard-linked old ones."""
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=4)
    store.rename_column("t", "val", "amount")
    pre = _inodes(store.current_path("t"))
    inc = spark.createDataFrame(
        [(2, "b2", 99), (9, "i", 90)], "k long, name string, amount long"
    )
    store.merge("t", inc, ["k"], policy="scd1")
    cur = store.current_path("t")
    post = _inodes(cur)
    # pruned: some old files rode through by hard link
    shared = [rel for rel, ino in post.items() if pre.get(rel) == ino]
    assert shared, "merge after rename must stay partition-pruned"
    # new files carry the physical (old) name in their parquet footer
    import pyarrow.parquet as pq

    new_files = [rel for rel in post if rel not in pre]
    assert new_files
    for rel in new_files:
        names = pq.ParquetFile(os.path.join(cur, rel)).schema_arrow.names
        assert "val" in names and "amount" not in names
    got = {r["k"]: (r["name"], r["amount"]) for r in store.read("t").collect()}
    assert got[2] == ("b2", 99) and got[9] == ("i", 90) and got[1] == ("a", 10)


def test_drop_then_evolution_readd_never_resurrects(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.createDataFrame(
        [(1, "a", 111), (2, "b", 222)], "k long, name string, secret long"
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=2)
    v1 = store.current_path("t")
    store.drop_column("t", "secret")
    assert store.read("t").columns == ["k", "name"]
    # metadata-only: the bytes stay until files naturally rewrite
    assert _inodes(v1) == _inodes(store.current_path("t"))
    # evolution re-add of the SAME logical name: fresh physical column
    inc = spark.createDataFrame(
        [(3, "c", 333)], "k long, name string, secret long"
    )
    store.merge("t", inc, ["k"], policy="scd1", evolve_schema=True)
    got = {r["k"]: r["secret"] for r in store.read("t").collect()}
    assert got == {1: None, 2: None, 3: 333}, "dropped values resurrected"
    # unpartitioned-table variant exercises the full-rewrite path
    store.write("u", df)
    store.drop_column("u", "secret")
    store.merge("u", inc, ["k"], policy="scd1", evolve_schema=True)
    got_u = {r["k"]: r["secret"] for r in store.read("u").collect()}
    assert got_u == {1: None, 2: None, 3: 333}


def test_rename_guards(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write_partitioned(
        "t",
        spark.createDataFrame(
            [(1, "A", 10)], "k long, seg string, val long"
        ),
        keys=["k"],
        partition_column="seg",
    )
    with pytest.raises(ValueError, match="no column"):
        store.rename_column("t", "nope", "x")
    with pytest.raises(ValueError, match="already has"):
        store.rename_column("t", "val", "seg")
    with pytest.raises(ValueError, match="reserved"):
        store.rename_column("t", "val", "__v")
    # partition-spec key and partition column are frozen
    with pytest.raises(ValueError, match="partition"):
        store.rename_column("t", "k", "key2")
    with pytest.raises(ValueError, match="partition"):
        store.drop_column("t", "seg")
    # constraint-referenced columns are frozen until the constraint drops
    store.add_check_constraint("t", "pos", "val >= 0")
    with pytest.raises(ValueError, match="constraint"):
        store.rename_column("t", "val", "amount")
    with pytest.raises(ValueError, match="constraint"):
        store.drop_column("t", "val")
    store.drop_check_constraint("t", "pos")
    store.rename_column("t", "val", "amount")
    # (partitionBy layout orders the partition column last — compare sets)
    assert set(store.read("t").columns) == {"k", "seg", "amount"}


def test_update_delete_and_dv_on_renamed_column(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.rename_column("t", "val", "amount")
    assert store.update("t", F.col("amount") == 20, {"amount": F.lit(21)}) == 1
    assert store.delete("t", F.col("amount") == 30) == 1
    assert store.delete_vectored("t", F.col("amount") == 40) == 1
    got = {r["k"]: r["amount"] for r in store.read("t").collect()}
    assert got == {1: 10, 2: 21}
    # a later rewrite materializes the DV without resurrecting k=4
    store.optimize("t", key="k")
    got2 = {r["k"]: r["amount"] for r in store.read("t").collect()}
    assert got2 == {1: 10, 2: 21}


def test_skipping_sidecars_across_rename(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    # val unique per row: each value lives in exactly one bucket file,
    # so a correct bloom rebuild must actually prune
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") * 1000).alias("val"),
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=4)
    skipping.build_bloom_sidecar(store, "t", "val")
    rows, files_read, total = skipping.read_where_eq(store, "t", "val", 5000)
    assert rows.count() == df.filter(F.col("val") == 5000).count()
    store.rename_column("t", "val", "v2")
    # the sidecar FOLLOWS the rename (same physical column): probes
    # of the new name keep pruning with no rebuild
    rows2, fr2, tot2 = skipping.read_where_eq(store, "t", "v2", 5000)
    assert fr2 < tot2
    assert rows2.count() == df.filter(F.col("val") == 5000).count()
    # an incremental rebuild under the new name scans nothing new
    assert skipping.build_bloom_sidecar(store, "t", "v2") == 0
    rows3, fr3, tot3 = skipping.read_where_eq(store, "t", "v2", 5000)
    assert fr3 < tot3
    assert sorted(r["k"] for r in rows3.collect()) == sorted(
        r["k"] for r in df.filter(F.col("val") == 5000).collect()
    )


def test_changelog_schema_break_contract(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.enable_changelog("t")
    store.merge(
        "t",
        spark.createDataFrame([(5, "e", 50)], "k long, name string, val long"),
        ["k"],
        policy="scd1",
    )
    pre_rows = store.read_changes("t").count()
    assert pre_rows > 0
    store.rename_column("t", "val", "amount")
    brk = store.schema_break_version("t")
    assert brk > 0
    # default read restarts at the break: no old-schema records
    assert store.read_changes("t").count() == 0
    # an explicit pre-break subscription names unreadable history
    with pytest.raises(ValueError, match="schema change"):
        store.read_changes("t", starting_version=1)
    with pytest.raises(ValueError, match="schema change"):
        store.stream_changes("t", starting_version=1)
    # post-break commits flow with the new schema
    store.merge(
        "t",
        spark.createDataFrame(
            [(6, "f", 60)], "k long, name string, amount long"
        ),
        ["k"],
        policy="scd1",
    )
    feed = store.read_changes("t")
    assert "amount" in feed.columns and "val" not in feed.columns
    assert feed.count() == 1
    # streaming subscription constructs with the same projection
    s = store.stream_changes("t")
    assert "amount" in s.columns and "val" not in s.columns
    # restore across the mapping change on a changelog table refuses
    with pytest.raises(ValueError, match="column-mapping"):
        store.restore("t", 0, keys=["k"])


def test_concurrent_rename_conflicts_with_stale_merge(spark, tmp_path):
    """A merge computed against a pre-rename snapshot must NOT land:
    the rebase path sees the colmap drift and raises."""
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    snap = store.current_path("t")
    store.rename_column("t", "val", "amount")
    # merge() resolves current twice before committing (exists() + the
    # snapshot read) — the commit-time check sees the REAL current, so
    # the interleaving is a genuine stale write (the same seam the
    # rebase tests use)
    calls = {"n": 0}
    orig = store.current_path

    def stale_twice(name):
        if name == "t" and calls["n"] < 2:
            calls["n"] += 1
            return snap
        return orig(name)

    store.current_path = stale_twice
    try:
        with pytest.raises(ConcurrentWriteError):
            store.merge(
                "t",
                spark.createDataFrame(
                    [(1, "a2", 11)], "k long, name string, val long"
                ),
                ["k"],
                policy="scd1",
            )
    finally:
        del store.current_path
    # retry against the new current (new logical name) lands
    store.merge(
        "t",
        spark.createDataFrame(
            [(1, "a2", 11)], "k long, name string, amount long"
        ),
        ["k"],
        policy="scd1",
    )
    got = {r["k"]: r["amount"] for r in store.read("t").collect()}
    assert got[1] == 11


def test_disjoint_rebase_on_mapped_table_carries_colmap(spark, tmp_path):
    """Two disjoint writers on a RENAMED table: identical mappings on
    both sides pass the rebase's colmap-equality gate and the mapping
    rides into the rebase version."""
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20)], "k long, seg string, val long"
    )
    store.write_partitioned("t", df, keys=["k"], partition_column="seg")
    store.rename_column("t", "val", "amount")
    snap = store.current_path("t")
    # writer 1: seg=A
    store.merge(
        "t",
        spark.createDataFrame([(1, "A", 11)], "k long, seg string, amount long"),
        ["k"],
        policy="scd1",
    )
    # writer 2 computed against the superseded snapshot, touches seg=B
    calls = {"n": 0}
    orig = store.current_path

    def stale_twice(name):
        if name == "t" and calls["n"] < 2:
            calls["n"] += 1
            return snap
        return orig(name)

    store.current_path = stale_twice
    try:
        store.merge(
            "t",
            spark.createDataFrame(
                [(2, "B", 22)], "k long, seg string, amount long"
            ),
            ["k"],
            policy="scd1",
        )
    finally:
        del store.current_path
    got = {r["k"]: r["amount"] for r in store.read("t").collect()}
    assert got == {1: 11, 2: 22}  # both writers landed, logical view held
    assert store._version_meta(store.current_path("t")).get("colmap") is not None


def test_clone_and_restore_carry_mapping(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.rename_column("t", "val", "amount")
    store.clone("t", "fork")
    assert store.read("fork").columns == ["k", "name", "amount"]
    # restore to the pre-rename version resurrects the OLD logical view
    store.restore("t", 0)
    assert store.read("t").columns == ["k", "name", "val"]
    # and a restore forward to the renamed version brings the map back
    store.restore("t", 1)
    assert store.read("t").columns == ["k", "name", "amount"]


def test_successive_renames_and_detail(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.rename_column("t", "val", "v1")
    store.rename_column("t", "v1", "v2")
    store.rename_column("t", "name", "label")
    assert store.read("t").columns == ["k", "label", "v2"]
    got = {r["k"]: (r["label"], r["v2"]) for r in store.read("t").collect()}
    assert got[1] == ("a", 10)
    # merge still lands through two rename hops
    store.merge(
        "t",
        spark.createDataFrame([(7, "g", 70)], "k long, label string, v2 long"),
        ["k"],
        policy="scd1",
    )
    assert store.read("t").filter(F.col("k") == 7).count() == 1


# --- generated columns (Delta GENERATED ALWAYS AS analog) -----------------


def test_generated_partition_column_computed_and_routed(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.declare_partitioning("t", keys=["k"], partition_column="day")
    store.declare_generated("t", "day", "CAST(ts AS DATE)")
    src = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-02 09:00:00", 20.0)],
        "k long, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.merge("t", src, ["k"], policy="scd1")  # batch LACKS day
    assert "day" in store.read("t").columns
    dirs = sorted(
        e
        for e in os.listdir(store.current_path("t"))
        if os.path.isdir(os.path.join(store.current_path("t"), e))
    )
    assert dirs == ["day=2024-01-01", "day=2024-01-02"]
    # a second day-less batch routes through the pruned merge path
    inc = spark.createDataFrame(
        [(3, "2024-01-01 23:00:00", 30.0)], "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.merge("t", inc, ["k"], policy="scd1")
    got = {r["k"]: str(r["day"]) for r in store.read("t").collect()}
    assert got == {1: "2024-01-01", 2: "2024-01-02", 3: "2024-01-01"}


def test_generated_column_contradiction_aborts(spark, tmp_path):
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        ConstraintViolationError,
    )

    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.declare_generated("t", "total", "qty * price")
    base = spark.createDataFrame(
        [(1, 2, 10.0)], "k long, qty long, price double"
    )
    store.write_partitioned("t", base, keys=["k"], n_buckets=2)
    assert {r["total"] for r in store.read("t").collect()} == {20.0}
    n0 = len(store.versions("t"))
    bad = spark.createDataFrame(
        [(2, 3, 10.0, 999.0)], "k long, qty long, price double, total double"
    )
    with pytest.raises(ConstraintViolationError):
        store.merge("t", bad, ["k"], policy="scd1")
    assert len(store.versions("t")) == n0  # nothing committed
    # a consistent carried value passes
    good = spark.createDataFrame(
        [(2, 3, 10.0, 30.0)], "k long, qty long, price double, total double"
    )
    store.merge("t", good, ["k"], policy="scd1")
    got = {r["k"]: r["total"] for r in store.read("t").collect()}
    assert got == {1: 20.0, 2: 30.0}
    # SET on the generated column is frozen; SET breaking an input is
    # caught by the implicit CHECK at commit
    with pytest.raises(ValueError, match="generated"):
        store.update("t", F.col("k") == 1, {"total": F.lit(0.0)})
    with pytest.raises(ConstraintViolationError):
        store.update("t", F.col("k") == 1, {"qty": F.lit(99)})
    # dropping the rule makes it an ordinary column again
    store.drop_generated("t", "total")
    assert store.update("t", F.col("k") == 1, {"total": F.lit(0.0)}) == 1


def test_declare_generated_on_existing_table_validates(spark, tmp_path):
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        ConstraintViolationError,
    )

    store = TableStore(spark, str(tmp_path), keep_versions=5)
    df = spark.createDataFrame(
        [(1, 2, 10.0, 20.0), (2, 5, 4.0, 20.0)],
        "k long, qty long, price double, total double",
    )
    store.write("t", df)
    store.declare_generated("t", "total", "qty * price")  # consistent
    with pytest.raises(ConstraintViolationError):
        store.declare_generated("t", "price", "total / 2")
    with pytest.raises(ValueError, match="no column"):
        store.declare_generated("t", "missing", "qty + 1")
    # rename/drop of the generated column or its inputs is frozen
    with pytest.raises(ValueError, match="generat"):
        store.rename_column("t", "qty", "n")
    with pytest.raises(ValueError, match="generat"):
        store.drop_column("t", "total")
    # clone inherits the rule
    store.clone("t", "fork")
    inc = spark.createDataFrame(
        [(3, 7, 2.0)], "k long, qty long, price double"
    )
    store.merge("fork", inc, ["k"], policy="scd1", evolve_schema=False)
    got = {r["k"]: r["total"] for r in store.read("fork").collect()}
    assert got[3] == 14.0


# --- review-pass regression pins ------------------------------------------


def test_bloom_sidecar_follows_rename_and_rebind_is_safe(spark, tmp_path):
    """A rename re-keys the column's skipping sidecars (same physical
    column — pruning survives); re-binding the retired logical name to
    a DIFFERENT column later must not probe the old column's bitsets."""
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") * 1000).alias("val"),
        (F.col("id") * 7).alias("x"),
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=4)
    skipping.build_bloom_sidecar(store, "t", "val")
    store.rename_column("t", "val", "v2")
    # sidecar followed: probes of the NEW name prune without a rebuild
    rows, fr, tot = skipping.read_where_eq(store, "t", "v2", 5000)
    assert fr < tot
    assert [r["k"] for r in rows.collect()] == [5]
    # probes of the retired name raise (column gone), and after
    # re-binding 'val' to a different column the OLD bitsets must not
    # serve it: the rename chain moved them to v2, so 'val' has no
    # sidecar -> full scan, correct rows
    store.rename_column("t", "x", "val")
    rows2, fr2, tot2 = skipping.read_where_eq(store, "t", "val", 7 * 5)
    assert fr2 == tot2  # no stale sidecar consulted
    assert [r["k"] for r in rows2.collect()] == [5]
    # drop leaves the dropped column's sidecars behind
    skipping.build_bloom_sidecar(store, "t", "val")
    store.drop_column("t", "val")
    assert not os.path.exists(
        os.path.join(store.current_path("t"), "_BLOOM.val.json")
    )


def test_failed_rename_cas_leaves_no_phantom_break(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.enable_changelog("t")
    store.merge(
        "t",
        spark.createDataFrame([(5, "e", 50)], "k long, name string, val long"),
        ["k"],
        policy="scd1",
    )
    n_feed = store.read_changes("t").count()
    assert n_feed > 0
    # a rename computed against a superseded snapshot: CAS must fail
    # AND the feed must keep serving its full history (no phantom break)
    snap = store.current_path("t")
    store.merge(
        "t",
        spark.createDataFrame([(6, "f", 60)], "k long, name string, val long"),
        ["k"],
        policy="scd1",
    )
    calls = {"n": 0}
    orig = store.current_path

    def stale_once(name):
        if name == "t" and calls["n"] < 1:
            calls["n"] += 1
            return snap
        return orig(name)

    store.current_path = stale_once
    try:
        with pytest.raises(ConcurrentWriteError):
            store.rename_column("t", "val", "amount")
    finally:
        del store.current_path
    assert store.schema_break_version("t") == 0
    assert store.read_changes("t").count() > n_feed  # full history intact


def test_append_race_guard_suppresses_old_schema_records(spark, tmp_path):
    """An old-logical-schema frame reaching the changelog AFTER a
    mapping change is suppressed and its version TOMBSTONED in the
    feed-exclusion list — never silent NULLs in the feed, and (round-12
    ADVICE #3) never collateral exclusion: records from OTHER commits,
    before or after the bad one, keep flowing."""
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.enable_changelog("t")
    store.rename_column("t", "val", "amount")
    brk0 = store.schema_break_version("t")
    # a correctly-schema'd commit lands AFTER the rename ...
    store.merge(
        "t",
        spark.createDataFrame(
            [(8, "h", 80)], "k long, name string, amount long"
        ),
        ["k"],
        policy="scd1",
    )
    n_good = store.read_changes("t").count()
    assert n_good >= 1
    # ... then the racing producer's frame, still carrying 'val'
    stale_frame = spark.createDataFrame(
        [(9, "z", 90)], "k long, name string, val long"
    )
    ver = store._append_changelog("t", stale_frame, "insert")
    # the break does NOT move (that retro-excluded every record <= ver,
    # including the good commit above); the bad version is tombstoned
    assert store.schema_break_version("t") == brk0
    assert ver in store.feed_exclusions("t")
    feed = store.read_changes("t")
    assert feed.filter("k = 9").count() == 0  # nothing leaked
    assert feed.count() == n_good  # the good commit still flows
    # a current-schema producer flows normally afterwards
    store.merge(
        "t",
        spark.createDataFrame(
            [(7, "g", 70)], "k long, name string, amount long"
        ),
        ["k"],
        policy="scd1",
    )
    feed = store.read_changes("t")
    assert feed.count() == n_good + 1 and "amount" in feed.columns
    assert feed.filter("k = 7").count() == 1


def test_colmap_guard_is_case_insensitive(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write("t", _base(spark))
    # Spark resolves identifiers case-insensitively: a constraint
    # written as VAL binds to column val and must freeze it
    store.add_check_constraint("t", "pos", "VAL >= 0")
    with pytest.raises(ValueError, match="constraint"):
        store.rename_column("t", "val", "amount")
    store.drop_check_constraint("t", "pos")
    with pytest.raises(ValueError, match="already has"):
        store.rename_column("t", "val", "NAME")


def test_concurrent_declare_generated_keeps_both_rules(spark, tmp_path):
    import threading

    store = TableStore(spark, str(tmp_path), keep_versions=5)
    errs = []

    def declare(col, expr):
        try:
            store.declare_generated("t", col, expr)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [
        threading.Thread(target=declare, args=(f"g{i}", f"k + {i}"))
        for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert set(store.generated_columns("t")) == {f"g{i}" for i in range(8)}


# --- identity columns (Delta GENERATED BY DEFAULT AS IDENTITY) ------------


def test_identity_allocation_inheritance_and_uniqueness(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.declare_identity("t", "row_id", start=100, step=5)
    b1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "name string, v double"
    )
    store.write_partitioned("t", b1, keys=["name"], n_buckets=2)
    ids1 = {r["name"]: r["row_id"] for r in store.read("t").collect()}
    assert len(set(ids1.values())) == 3
    assert all(v >= 100 and (v - 100) % 5 == 0 for v in ids1.values())
    # matched keys INHERIT their id; only the new row draws fresh
    store.merge(
        "t",
        spark.createDataFrame(
            [("b", 22.0), ("d", 4.0)], "name string, v double"
        ),
        ["name"],
        policy="scd1",
    )
    ids2 = {r["name"]: r["row_id"] for r in store.read("t").collect()}
    assert ids2["b"] == ids1["b"] and ids2["a"] == ids1["a"]
    assert len(set(ids2.values())) == 4
    # a large batch stays unique end-to-end (per-partition offsets)
    big = spark.range(0, 3000).select(
        F.concat(F.lit("u"), F.col("id")).alias("name"),
        F.lit(0.5).alias("v"),
    )
    store.merge("t", big, ["name"], policy="scd1")
    n = store.read("t").count()
    assert store.read("t").select("row_id").distinct().count() == n == 3004
    # high-water mark survives a fresh store handle (persisted)
    store_b = TableStore(spark, str(tmp_path), keep_versions=10)
    assert store_b.identity_columns("t")["row_id"]["hwm"] >= 100 + 5 * 3004


def test_identity_by_default_supplied_values_and_sync(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.declare_identity("t", "uid", start=1)
    store.write(
        "t", spark.createDataFrame([("a", 1.0)], "name string, v double")
    )
    # BY DEFAULT: supplied values pass through
    store.merge(
        "t",
        spark.createDataFrame([("z", 9.0, 500)], "name string, v double, uid long"),
        ["name"],
        policy="scd1",
    )
    got = {r["name"]: r["uid"] for r in store.read("t").collect()}
    assert got["z"] == 500
    # SYNC IDENTITY advances the mark past supplied values
    assert store.sync_identity("t", "uid") == 501
    store.merge(
        "t",
        spark.createDataFrame([("q", 7.0)], "name string, v double"),
        ["name"],
        policy="scd1",
    )
    got2 = {r["name"]: r["uid"] for r in store.read("t").collect()}
    assert got2["q"] >= 501 and len(set(got2.values())) == 3


def test_identity_guards(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    with pytest.raises(ValueError, match="positive"):
        store.declare_identity("t", "uid", step=0)
    store.declare_identity("t", "uid", start=1)
    store.write(
        "t", spark.createDataFrame([("a", 1.0)], "name string, v double")
    )
    # identity as a merge key without the column on the source
    with pytest.raises(ValueError, match="merge key"):
        store.merge(
            "t",
            spark.createDataFrame([("b", 2.0)], "name string, v double"),
            ["uid"],
            policy="scd1",
        )
    with pytest.raises(ValueError, match="identity"):
        store.update("t", F.col("name") == "a", {"uid": F.lit(1)})
    with pytest.raises(ValueError, match="identity"):
        store.rename_column("t", "uid", "uid2")
    with pytest.raises(ValueError, match="identity"):
        store.drop_column("t", "uid")
    # declare on an existing table resumes past the column's max
    store.write("u", spark.createDataFrame([(1, 50)], "k long, uid long"))
    store2 = TableStore(spark, str(tmp_path), keep_versions=5)
    store2.declare_identity("u", "uid", start=1)
    assert store2.identity_columns("u")["uid"]["hwm"] == 51
    with pytest.raises(ValueError, match="no column"):
        store2.declare_identity("u", "missing")
    # clone resumes from the source's mark — no overlap after forking
    store2.clone("u", "fork")
    store2.merge(
        "fork",
        spark.createDataFrame([(2,)], "k long"),
        ["k"],
        policy="scd1",
    )
    fork_ids = {r["uid"] for r in store2.read("fork").collect()}
    assert fork_ids == {50, 51}


# --- replace_where (Delta replaceWhere / INSERT OVERWRITE ... WHERE) ------


def test_replace_where_atomic_backfill(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    df = spark.createDataFrame(
        [
            (1, "2024-01-01", 10.0),
            (2, "2024-01-01", 20.0),
            (3, "2024-01-02", 30.0),
            (4, "2024-01-03", 40.0),
        ],
        "k long, day string, v double",
    )
    store.write_partitioned("t", df, keys=["k"], partition_column="day")
    store.enable_changelog("t")
    pre = _inodes(store.current_path("t"))
    new = spark.createDataFrame(
        [(1, "2024-01-01", 11.0), (5, "2024-01-01", 50.0)],
        "k long, day string, v double",
    )
    n_versions = len(store.versions("t"))
    assert store.replace_where(
        "t", F.col("day") == "2024-01-01", new, keys=["k"]
    ) == 2
    assert len(store.versions("t")) == n_versions + 1  # ONE commit
    got = sorted((r["k"], r["v"]) for r in store.read("t").collect())
    assert got == [(1, 11.0), (3, 30.0), (4, 40.0), (5, 50.0)]
    # untouched partitions rode through by hard link
    post = _inodes(store.current_path("t"))
    for rel in pre:
        if "2024-01-01" not in rel:
            assert post[rel] == pre[rel]
    # one commit version carries delete + update + insert
    ch = store.read_changes("t")
    top = ch.agg(F.max("_commit_version")).collect()[0][0]
    kinds = sorted(
        (r["k"], r["_change_type"])
        for r in ch.filter(F.col("_commit_version") == top).collect()
    )
    assert kinds == [
        (1, "update_postimage"),
        (2, "delete"),
        (5, "insert"),
    ]


def test_replace_where_guards_and_edges(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)], "k long, seg string, v double"
    )
    store.write_partitioned("t", df, keys=["k"], partition_column="seg")
    # inserted rows must satisfy the predicate (Delta's own contract)
    with pytest.raises(ValueError, match="predicate"):
        store.replace_where(
            "t",
            F.col("seg") == "A",
            spark.createDataFrame(
                [(9, "B", 9.0)], "k long, seg string, v double"
            ),
        )
    # replacement into a partition value that does not exist yet
    store.replace_where(
        "t",
        F.col("seg") == "C",
        spark.createDataFrame([(3, "C", 30.0)], "k long, seg string, v double"),
    )
    assert store.read("t").filter(F.col("seg") == "C").count() == 1
    # emptying replacement removes the partition
    store.replace_where(
        "t",
        F.col("seg") == "C",
        spark.createDataFrame([], "k long, seg string, v double"),
    )
    assert store.read("t").filter(F.col("seg") == "C").count() == 0
    # hash-partitioned and unpartitioned variants
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    store.write_partitioned("h", base, keys=["k"], n_buckets=4)
    rep = spark.range(0, 100, 2).select(
        F.col("id").alias("k"), F.lit(9.0).alias("v")
    )
    assert store.replace_where("h", F.col("k") % 2 == 0, rep) == 50
    assert store.read("h").count() == 100
    assert store.read("h").filter(F.col("v") == 9.0).count() == 50
    store.write("u", df)
    assert store.replace_where(
        "u",
        F.col("seg") == "A",
        spark.createDataFrame([(8, "A", 80.0)], "k long, seg string, v double"),
    ) == 1
    assert sorted(r["k"] for r in store.read("u").collect()) == [2, 8]


def test_replace_where_inherits_identity_and_generated(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.declare_identity("t", "row_id", start=1)
    store.declare_generated("t", "day", "CAST(ts AS DATE)")
    store.declare_partitioning("t", keys=["k"], partition_column="day")
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-02 10:00:00", 2.0)],
        "k long, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.merge("t", df, ["k"], policy="scd1")
    ids = {r["k"]: r["row_id"] for r in store.read("t").collect()}
    # backfill day 1 with a corrected value: the generated partition
    # column is computed and the identity value INHERITED by key
    fix = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.5)], "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.replace_where(
        "t", F.col("day") == F.lit("2024-01-01").cast("date"), fix,
        keys=["k"],
    )
    got = {r["k"]: (r["row_id"], r["v"]) for r in store.read("t").collect()}
    assert got[1] == (ids[1], 1.5) and got[2] == (ids[2], 2.0)


def test_identity_null_rejected_and_pins_released(spark, tmp_path):
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.cache import (
        _BY_SESSION,
    )
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
        ConstraintViolationError,
    )

    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.declare_identity("t", "uid", start=1)
    store.write(
        "t", spark.createDataFrame([("a", 1.0)], "name string, v double")
    )
    # BY DEFAULT does NOT mean nullable: a batch carrying NULL ids is
    # rejected at commit (implicit NOT NULL, like Delta) — otherwise a
    # later inheriting merge would silently re-number those keys
    bad = spark.createDataFrame(
        [("b", 2.0, None)], "name string, v double, uid long"
    )
    n0 = len(store.versions("t"))
    with pytest.raises(ConstraintViolationError, match="identity"):
        store.merge("t", bad, ["name"], policy="scd1")
    assert len(store.versions("t")) == n0
    # the internal allocation/inheritance pins are released by the
    # store itself — identity ingest must not leak a persisted batch
    # copy per commit in long-lived sessions
    pending = len(_BY_SESSION.get(spark, []))
    store.merge(
        "t",
        spark.createDataFrame([("c", 3.0)], "name string, v double"),
        ["name"],
        policy="scd1",
    )
    store.replace_where(
        "t",
        F.col("name") == "c",
        spark.createDataFrame([("c", 3.5)], "name string, v double"),
        keys=["name"],
    )
    assert len(_BY_SESSION.get(spark, [])) == pending
    got = {r["name"]: r["v"] for r in store.read("t").collect()}
    assert got == {"a": 1.0, "c": 3.5}
    assert (
        store.read("t").select("uid").distinct().count()
        == store.read("t").count()
    )


def test_replace_where_on_renamed_table(spark, tmp_path):
    """Cross-feature interaction: the predicate-scoped overwrite runs
    in LOGICAL space on a mapped table, and its rewritten files keep
    physical names beside the hard-linked survivors."""
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
        "k long, seg string, val double",
    )
    store.write_partitioned("t", df, keys=["k"], partition_column="seg")
    store.rename_column("t", "val", "amount")
    pre = _inodes(store.current_path("t"))
    new = spark.createDataFrame(
        [(1, "A", 11.0)], "k long, seg string, amount double"
    )
    assert store.replace_where("t", F.col("seg") == "A", new) == 2
    got = sorted((r["k"], r["amount"]) for r in store.read("t").collect())
    assert got == [(1, 11.0), (3, 30.0)]
    post = _inodes(store.current_path("t"))
    for rel in pre:
        if rel.startswith("seg=B/"):
            assert post[rel] == pre[rel]  # untouched partition linked
    # the rewritten partition's files carry the PHYSICAL (old) name
    import pyarrow.parquet as pq

    cur = store.current_path("t")
    for rel in post:
        if rel.startswith("seg=A/"):
            names = pq.ParquetFile(
                os.path.join(cur, rel)
            ).schema_arrow.names
            assert "val" in names and "amount" not in names


# --- type widening (Delta ALTER COLUMN TYPE analog) -----------------------


def test_widen_column_metadata_only(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k long, qty int, ratio float"
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=2)
    pre = _inodes(store.current_path("t"))
    store.widen_column("t", "qty", "bigint")
    store.widen_column("t", "ratio", "double")
    assert pre == _inodes(store.current_path("t"))  # zero data movement
    assert dict(store.read("t").dtypes) == {
        "k": "bigint",
        "qty": "bigint",
        "ratio": "double",
    }
    # old narrow files upcast at scan; new files carry the wide type
    store.merge(
        "t",
        spark.createDataFrame(
            [(3, 2**40, 3.5)], "k long, qty long, ratio double"
        ),
        ["k"],
        policy="scd1",
    )
    got = {r["k"]: r["qty"] for r in store.read("t").collect()}
    assert got == {1: 10, 2: 20, 3: 2**40}
    # time travel sees the narrow type AS OF the old version
    assert dict(store.read_at("t", 0).dtypes)["qty"] == "int"
    # idempotent re-widen commits nothing
    n0 = len(store.versions("t"))
    store.widen_column("t", "qty", "bigint")
    assert len(store.versions("t")) == n0
    ops = [r["operation"] for r in store.history("t").collect()]
    assert "widen_column" in ops


def test_widen_whitelist_and_sidecars(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).cast("int").alias("val"),
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=4)
    for bad in ("smallint", "string", "float"):
        with pytest.raises(ValueError, match="lossless"):
            store.widen_column("t", "val", bad)
    with pytest.raises(ValueError, match="no column"):
        store.widen_column("t", "nope", "bigint")
    # a bloom sidecar built under the narrow type RETIRES on widen
    # (typed hashes can't cross the width — a carried bitset would
    # silently prune rows away); min/max carries, values stay correct
    skipping.build_bloom_sidecar(store, "t", "val")
    skipping.build_minmax_sidecar(store, "t", "val")
    store.widen_column("t", "val", "bigint")
    cur = store.current_path("t")
    assert not os.path.exists(os.path.join(cur, "_BLOOM.val.json"))
    assert os.path.exists(os.path.join(cur, "_MINMAX.val.json"))
    rows, fr, tot = skipping.read_where_eq(store, "t", "val", 500)
    assert rows.count() == 1  # full scan (no bloom), correct
    rows2, fr2, tot2 = skipping.read_where_between(store, "t", "val", 400, 600)
    assert sorted(r["k"] for r in rows2.collect()) == [4, 5, 6]
    # rebuilt under the wide type, pruning returns
    skipping.build_bloom_sidecar(store, "t", "val")
    rows3, fr3, tot3 = skipping.read_where_eq(store, "t", "val", 500)
    assert fr3 < tot3 and rows3.count() == 1


def test_widen_changelog_schema_break(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    df = spark.createDataFrame([(1, 10)], "k long, qty int")
    store.write_partitioned("t", df, keys=["k"], n_buckets=2)
    store.enable_changelog("t")
    store.merge(
        "t",
        spark.createDataFrame([(2, 20)], "k long, qty int"),
        ["k"],
        policy="scd1",
    )
    assert store.read_changes("t").count() > 0
    store.widen_column("t", "qty", "bigint")
    assert store.schema_break_version("t") > 0
    # default read restarts at the break with the WIDE schema
    assert store.read_changes("t").count() == 0
    with pytest.raises(ValueError, match="schema change"):
        store.read_changes("t", starting_version=1)
    store.merge(
        "t",
        spark.createDataFrame([(3, 2**40)], "k long, qty long"),
        ["k"],
        policy="scd1",
    )
    feed = store.read_changes("t")
    assert feed.count() == 1
    assert dict(feed.dtypes)["qty"] == "bigint"
    assert feed.collect()[0]["qty"] == 2**40
    s = store.stream_changes("t")
    assert dict(s.dtypes)["qty"] == "bigint"


def test_widen_hash_merge_key_refused(spark, tmp_path):
    """The hash-bucket layout is xxhash64 of the TYPED key: widening a
    bucketed merge key would route post-widen merges to different
    buckets than the placed rows (duplicate upserts) — refused."""
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    store.write_partitioned("t", df, keys=["k"], n_buckets=4)
    with pytest.raises(ValueError, match="hash-bucket"):
        store.widen_column("t", "k", "bigint")
    # non-key payload columns still widen; column-mode partition keys
    # are value-routed, so the key CAN widen there
    store.write_partitioned(
        "u",
        spark.createDataFrame([(1, "A", 10)], "k int, seg string, val int"),
        keys=["k"],
        partition_column="seg",
    )
    store.widen_column("u", "k", "bigint")
    store.widen_column("u", "val", "bigint")
    store.merge(
        "u",
        spark.createDataFrame(
            [(2**40, "A", 2**40)], "k long, seg string, val long"
        ),
        ["k"],
        policy="scd1",
    )
    got = {r["k"]: r["val"] for r in store.read("u").collect()}
    assert got == {1: 10, 2**40: 2**40}


def test_minmax_builder_decimal_bounds_conservative(spark, tmp_path):
    """After a widen to decimal, the minmax builder stores None for
    the non-JSON-native bounds (always-candidate) instead of crashing
    or lossy-casting."""
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("val")
    )
    store.write_partitioned("t", df, keys=["k"], n_buckets=2)
    store.widen_column("t", "val", "decimal(12,0)")
    n = skipping.build_minmax_sidecar(store, "t", "val")
    assert n > 0  # scanned without raising
    rows, fr, tot = skipping.read_where_between(store, "t", "val", 100, 200)
    assert fr == tot  # conservative: no pruning on decimal bounds
    assert rows.count() == 11


def test_table_properties(spark, tmp_path):
    import threading

    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write("t", _base(spark))
    threads = [
        threading.Thread(
            target=store.set_properties, args=("t",), kwargs={f"p{i}": i}
        )
        for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert store.properties("t") == {f"p{i}": str(i) for i in range(8)}
    store.unset_properties("t", "p0", "nope")
    assert "p0" not in store.properties("t")
    assert store.detail("t")["properties"]["p1"] == "1"
    store.clone("t", "fork")
    assert store.properties("fork")["p1"] == "1"


def test_add_column_metadata_only(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    pre = _inodes(store.current_path("t"))
    store.add_column("t", "score", "double")
    assert pre == _inodes(store.current_path("t"))  # zero data movement
    got = {r["k"]: r["score"] for r in store.read("t").collect()}
    assert got == {1: None, 2: None, 3: None, 4: None}
    # later merges populate it with NO evolution flag needed
    store.merge(
        "t",
        spark.createDataFrame(
            [(1, "a", 10, 0.9)], "k long, name string, val long, score double"
        ),
        ["k"],
        policy="scd1",
    )
    got2 = {r["k"]: r["score"] for r in store.read("t").collect()}
    assert got2[1] == 0.9 and got2[2] is None
    with pytest.raises(ValueError, match="already has"):
        store.add_column("t", "VAL", "long")
    with pytest.raises(ValueError, match="reserved"):
        store.add_column("t", "__x", "long")
    # drop then re-ADD the same logical name: fresh physical, no
    # resurrection of the retained bytes
    store.drop_column("t", "score")
    store.add_column("t", "score", "double")
    got3 = {r["k"]: r["score"] for r in store.read("t").collect()}
    assert got3 == {1: None, 2: None, 3: None, 4: None}
    # time travel: version before the add lacks the column
    assert "score" not in store.read_at("t", 0).columns


def test_add_column_does_not_break_changelog(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), keep_versions=10, changelog=True)
    store.write_partitioned("t", _base(spark), keys=["k"], n_buckets=2)
    store.enable_changelog("t")
    store.merge(
        "t",
        spark.createDataFrame([(5, "e", 50)], "k long, name string, val long"),
        ["k"],
        policy="scd1",
    )
    n = store.read_changes("t").count()
    store.add_column("t", "score", "double")
    # additive change: the feed keeps serving its history (old
    # records NULL-fill), unlike rename/drop/widen
    assert store.schema_break_version("t") == 0
    assert store.read_changes("t").count() == n


def test_rename_drop_resolve_case_insensitively(spark, tmp_path):
    """Round-12 ADVICE #1: Spark resolution is case-insensitive, so
    rename/drop must resolve the existing column that way too —
    renaming 'VAL' when the map stores 'val' works and keys the
    mapping/sidecars on the stored casing."""
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write("t", _base(spark))
    store.rename_column("t", "VAL", "amount")
    assert "amount" in store.read("t").columns
    assert {r["amount"] for r in store.read("t").collect()} == {
        r["val"] for r in _base(spark).collect()
    }
    store.drop_column("t", "AMOUNT")
    assert "amount" not in store.read("t").columns
    with pytest.raises(ValueError, match="no column"):
        store.rename_column("t", "ghost", "x")


def test_colmap_guard_ignores_column_name_in_string_literal(
    spark, tmp_path
):
    """Round-12 ADVICE #2: the guard resolves expression references
    through Spark's analyzer, so a column name appearing only inside
    a STRING LITERAL of a CHECK constraint no longer false-freezes
    the column — while real references (any casing) still do."""
    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write("t", _base(spark))
    store.add_check_constraint("t", "lit", "name != 'val'")
    # 'val' appears only as a literal: renaming the val COLUMN is fine
    store.rename_column("t", "val", "amount")
    assert "amount" in store.read("t").columns
    # but the genuinely referenced column stays frozen
    with pytest.raises(ValueError, match="constraint"):
        store.rename_column("t", "name", "label")


def test_widen_decimal_scale_and_integer_digits(spark, tmp_path):
    """Round-12 ADVICE #4: Delta-legal decimal widenings that grow
    scale and precision together (decimal(10,2) -> decimal(12,4)) are
    metadata-only; shrinking either side still rejects. Scan-time
    upcast probe ran on this Spark (values pad zeros losslessly)."""
    import decimal

    store = TableStore(spark, str(tmp_path), keep_versions=5)
    store.write(
        "t",
        spark.createDataFrame(
            [(1, decimal.Decimal("12345678.91"))], "k long, d decimal(10,2)"
        ),
    )
    store.widen_column("t", "d", "decimal(12,4)")
    [r] = store.read("t").collect()
    assert str(r["d"]) == "12345678.9100"
    assert dict(store.read("t").dtypes)["d"] == "decimal(12,4)"
    # integer digits may not shrink even when precision grows
    with pytest.raises(ValueError, match="lossless"):
        store.widen_column("t", "d", "decimal(13,6)")
    # nor may scale shrink
    with pytest.raises(ValueError, match="lossless"):
        store.widen_column("t", "d", "decimal(20,2)")
    # long -> decimal needs >= 20 integer digits and then works
    with pytest.raises(ValueError, match="lossless"):
        store.widen_column("t", "k", "decimal(18,0)")
    store.widen_column("t", "k", "decimal(25,5)")
    [r] = store.read("t").collect()
    assert str(r["k"]) == "1.00000"
