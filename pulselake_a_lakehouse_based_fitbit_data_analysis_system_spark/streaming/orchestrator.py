"""Dependency-wave stream orchestration (reference T10).

The reference runs its silver pipelines in three waves with barriers —
wave 2 reads wave 1's output tables (``Silver/05-silver.py:481-503``)
— blocking on ``spark.streams.active`` between waves, with a fair-
scheduler pool per layer. This module is that pattern as a reusable
runner: each wave is a list of thunks that start and return a
StreamingQuery; the runner starts a wave, waits for every query in it
to terminate (availableNow drains) or reach a steady state, then
starts the next.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery


@dataclass
class StreamWave:
    """One barrier group. ``pool`` maps to a fair-scheduler pool the
    way the reference sets ``spark.scheduler.pool`` per layer
    (``Silver/05-silver.py:92,137,...``)."""

    name: str
    starters: Sequence[Callable[[], StreamingQuery]] = field(default_factory=list)
    pool: str | None = None


def run_waves(
    spark: SparkSession, waves: Sequence[StreamWave], timeout_sec: int = 600
) -> dict[str, list[str]]:
    """Run waves with barriers. Returns {wave: [query names]}. Queries
    must use availableNow (drain) triggers — the runner awaits their
    termination before releasing the next wave.

    Each wave has one deadline, ``timeout_sec`` after it starts, that
    all of its queries share: a wave of six queries waits at most
    ``timeout_sec``, not six times that. When a query of the wave fails
    or the deadline passes, every query of the wave still active is
    stopped before the error is raised, so a failed wave leaves nothing
    running; the wave's scheduler pool is reset either way."""
    report: dict[str, list[str]] = {}
    for wave in waves:
        if wave.pool:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", wave.pool)
        queries: list[StreamingQuery] = []
        try:
            deadline = time.monotonic() + timeout_sec
            for start in wave.starters:
                queries.append(start())
            for q in queries:
                # awaitTermination takes a positive timeout only
                left = max(deadline - time.monotonic(), 0.001)
                if not q.awaitTermination(left):
                    raise TimeoutError(
                        f"stream {q.name or q.id} in wave {wave.name!r} did not "
                        f"drain within {timeout_sec}s"
                    )
                if q.exception() is not None:
                    raise q.exception()
        except BaseException:
            for q in queries:
                if q.isActive:
                    with contextlib.suppress(Exception):
                        q.stop()
            raise
        finally:
            if wave.pool:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        report[wave.name] = [q.name or str(q.id) for q in queries]
    return report
