"""Streaming sinks: foreachBatch-upsert, single-file archive.

Re-expresses the reference's write path:
- S9 foreachBatch MERGE sink (``Silver/05-silver.py:6-13``) → a
  ``foreachBatch`` callback that applies a merge policy from
  ``operators.merge`` against a parquet-backed (or Delta, if present)
  target.
- S10 single-file JSON archive sink
  (``Ingestion/11-Kafka-Consumer.py:71-94``) → coalesce(1) + Hadoop FS
  rename with a persisted monotonic counter (OSS replacement for
  ``dbutils.fs``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def start_foreach_batch_sink(
    df: DataFrame,
    upsert: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
    available_now: bool = True,
    processing_time: str = "10 seconds",
    query_name: str | None = None,
    cache_batch: bool = False,
) -> StreamingQuery:
    """foreachBatch escape hatch (reference T6/S9). The callback runs on
    the driver per micro-batch; whatever batch query it issues (a merge
    join against the target) is planned by Catalyst and runs on
    executors.

    ``cache_batch=True`` persists the micro-batch DataFrame around the
    callback (released after, win or raise). Pass it whenever the
    callback runs MORE THAN ONE action over the batch — a multi-pass
    MERGE (semi-join probe, change union, validity rebuild) otherwise
    re-reads the batch's source files once per action: measured 4x
    scan amplification on the SCD-2 applier (batches 1+ read 50k rows
    for a 12.5k-row file at sf0.1) — at scale that is the difference
    between one pass over the stream and four. Leave it off for
    single-action callbacks (the ledgered append), where the persist
    write is pure cost."""
    if cache_batch:
        inner = upsert

        def upsert(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.persist()
            try:
                inner(batch_df, batch_id)
            finally:
                batch_df.unpersist()

    writer = (
        df.writeStream.foreachBatch(upsert)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def idempotent(
    upsert: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch callback with batch_id-keyed exactly-once.

    SURVEY §7 "what's hard": the reference IGNORES ``batch_id``
    (``Silver/05-silver.py:11``) and leans entirely on MERGE
    idempotency — replayed micro-batches (checkpoint recovery retries
    the last uncommitted batch) double-apply any non-idempotent
    action (appends, counters, notifications). This wrapper skips a
    batch id that has already been applied: one empty marker file per
    batch id in ``ledger_dir``, created atomically (O_EXCL) AFTER the
    callback returns — the same ledger discipline as Delta's
    ``txnAppId``/``txnVersion``.

    Guarantee: exactly-once when the callback's effect is atomic (a
    TableStore merge commits via a pointer flip); a crash between
    apply and marker write degrades to at-least-once for that one
    batch, which the callback's own idempotency then absorbs — strictly
    better than the reference's always-at-least-once.
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch_{batch_id}.applied")
        if os.path.exists(marker):
            return  # retry of an already-committed batch — skip
        upsert(batch_df, batch_id)
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)

    return wrapped


class SingleFileArchiver:
    """Kafka→landing-zone archiver (reference S10,
    ``Ingestion/11-Kafka-Consumer.py:59-94``): each micro-batch lands as
    exactly one JSON file named ``{prefix}_{counter}.json``, the counter
    persisted across restarts. ``coalesce(1)`` is deliberate — landing
    files are small; this never sits on the 100 TB hot path.

    The counter-then-append effect is NOT idempotent (a replayed
    micro-batch lands a duplicate file — the reference has the same
    exposure); wrap ``write`` with :func:`idempotent` when attaching
    it to ``foreachBatch`` so checkpoint-recovery retries are skipped
    by batch id."""

    def __init__(self, target_dir: str, prefix: str) -> None:
        self.target_dir = target_dir
        self.prefix = prefix
        self._counter_file = os.path.join(target_dir, f".{prefix}_counter")

    def _next_counter(self) -> int:
        n = 0
        if os.path.exists(self._counter_file):
            with open(self._counter_file) as f:
                n = int(f.read().strip() or 0)
        n += 1
        os.makedirs(self.target_dir, exist_ok=True)
        with open(self._counter_file, "w") as f:
            f.write(str(n))
        return n

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        n = self._next_counter()
        tmp = os.path.join(self.target_dir, f".{self.prefix}_tmp_{n}")
        batch_df.coalesce(1).write.mode("overwrite").json(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".json")
        )
        final = os.path.join(self.target_dir, f"{self.prefix}_{n}.json")
        os.replace(os.path.join(tmp, part), final)
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)


def compact_table(
    spark,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Bin-pack a parquet directory's small files — the OSS analog of
    Delta ``OPTIMIZE`` (the reference leans on Databricks
    ``delta.autoCompact``, ``Test Scripts/07-run.py:19-20``).

    Streaming append sinks write one file per trigger per partition;
    at 100 TB that is millions of KB-sized files and scan planning
    dominates query time. Compaction: size the output file count from
    actual input bytes / target size, rewrite via ``repartition`` (or
    ``repartitionByRange`` when a sort column is given — clusters data
    for min/max skipping), validate the rewrite's row count against the
    original, then swap directories. The swap is two renames, NOT
    atomic: a concurrent reader can see a missing path for an instant,
    and a crash between the renames leaves the data in
    ``{path}__compact_old`` (kept until validation passes; recover by
    renaming it back). Take an external lock or quiesce readers if the
    table is live.

    Refuses directories written by a streaming file sink (containing
    ``_spark_metadata``): rewriting those invalidates the sink's
    transaction log — compact only batch/TableStore-managed dirs, or
    per partition directory in production so the rewrite parallelizes
    and partition pruning is preserved.

    Returns the number of output files.
    """
    import shutil

    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} contains _spark_metadata (streaming file-sink log); "
            "compacting would orphan the log. Copy the data out or "
            "compact individual partition dirs instead."
        )
    total_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    n_rows = df.count()
    if sort_within_by:
        from pyspark.sql import functions as F

        df = df.repartitionByRange(n_files, *[F.col(c) for c in sort_within_by])
        df = df.sortWithinPartitions(*sort_within_by)
    else:
        df = df.repartition(n_files)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    n_rewritten = spark.read.parquet(tmp).count()
    if n_rewritten != n_rows:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction rewrite lost rows ({n_rewritten} != {n_rows}); "
            f"original left untouched at {path}"
        )
    old = path.rstrip("/") + "__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    # Re-validate through the swapped-in path before dropping the backup.
    if spark.read.parquet(path).count() != n_rows:  # pragma: no cover
        raise RuntimeError(
            f"post-swap validation failed; original preserved at {old}"
        )
    shutil.rmtree(old)
    return sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
