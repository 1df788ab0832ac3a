#!/usr/bin/env python
"""Merge write-amplification micro-benchmark: partition-pruned vs
file-level-pruned single-key merges into a TableStore table.

Builds a hash-bucketed table from the events fixture, then applies a
one-key SCD-1 trickle merge and reports (a) wall time and (b) bytes of
parquet actually REWRITTEN (new inodes) vs hard-linked, for two
configurations of the same store:

- ``partition``: the round-2 behavior, file stats disabled by merging
  on a freshly written store whose file stats are removed from its
  commit record — the whole affected bucket rewrites.
- ``file``: the round-3 behavior — the min/max file stats prune the
  rewrite to the files whose key range can contain the merge key.

Prints ONE JSON line:
  {"metric": "merge_write_amplification", "partition_rewrite_mb": ..,
   "file_rewrite_mb": .., "partition_sec": .., "file_sec": ..,
   "rewrite_shrink": .., "sf": ..}
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time

from pyspark.sql import Row

import pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark as pl
from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.operators.merge import (
    TableStore,
)
from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.sources.tables import (
    load_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _inode_map(version_dir: str) -> dict[str, tuple[int, int]]:
    out = {}
    for part in os.listdir(version_dir):
        pdir = os.path.join(version_dir, part)
        if not os.path.isdir(pdir):
            continue
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(pdir, f))
                out[f"{part}/{f}"] = (st.st_ino, st.st_size)
    return out


def _measure(spark, base_df, *, file_pruning: bool) -> tuple[float, float]:
    root = tempfile.mkdtemp(prefix="pulselake_benchmerge_")
    try:
        store = TableStore(spark, root)
        # keep AQE from coalescing the range-clustered write to one
        # file per bucket — at real scale buckets hold many files; the
        # bench models that regime (8 range tasks per bucket)
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            store.write_partitioned(
                "t", base_df, keys=["event_id"], n_buckets=4
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        cur = store.current_path("t")
        if not file_pruning:
            rec = store._commit_record(cur)
            del rec["meta"]["file_stats"]
            store._write_json_sidecar(os.path.join(cur, store._OPFILE), rec)
        before = _inode_map(cur)
        batch = spark.createDataFrame(
            [Row(event_id=7, user_id=1, value=0.0)]
        )
        t0 = time.perf_counter()
        store.merge("t", batch, ["event_id"], policy="scd1")
        wall = time.perf_counter() - t0
        after = _inode_map(store.current_path("t"))
        rewritten = sum(
            size
            for rel, (ino, size) in after.items()
            if before.get(rel, (None, None))[0] != ino
        )
        return round(wall, 3), round(rewritten / 1e6, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    spark = pl.get_spark(app_name="pulselake-bench-merge")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    amp = int(os.environ.get("SPARK_GRAFT_MERGE_AMP", "20"))
    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "value"
    )
    # amplify to a few-million-row table with unique keys so buckets
    # hold many key-disjoint files (the regime file pruning targets)
    base = e.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(amp - 1)))
    ).select(
        (F.col("event_id") * amp + F.col("__r")).alias("event_id"),
        "user_id",
        "value",
    )
    # warm the JVM so the two timed paths see the same steady state
    _measure(spark, base, file_pruning=True)
    p_sec, p_mb = _measure(spark, base, file_pruning=False)
    f_sec, f_mb = _measure(spark, base, file_pruning=True)
    print(
        json.dumps(
            {
                "metric": "merge_write_amplification",
                "partition_rewrite_mb": p_mb,
                "file_rewrite_mb": f_mb,
                "partition_sec": p_sec,
                "file_sec": f_sec,
                "rewrite_shrink": round(p_mb / f_mb, 1) if f_mb else None,
                "sf": _sf_from_dir(SF_DIR),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
