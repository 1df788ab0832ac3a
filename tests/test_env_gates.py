"""Environmental-gate probes (round-3 verdict, "Next round" #8).

Two capabilities are import/classpath-gated because their
dependencies may be absent: google.protobuf (Spark 4
transformWithStateInPandas state server) and the spark-sql-kafka jar
(Kafka source ``.load()``). Each probe below skips with an explicit
reason while its dependency is missing and FLIPS ON AUTOMATICALLY the
moment it appears — no code change needed for the gated path to get
its first real execution.

Cost when skipped: one import / one classloader lookup per probe.
"""

from __future__ import annotations

import os

import pytest


def _protobuf_available() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _kafka_jar_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="google.protobuf absent — Spark's transformWithStateInPandas "
    "state server can't start; the applyInPandasWithState twin carries "
    "the semantics meanwhile. Flips on with protobuf installed "
    "(the state-v2 catalog query also self-registers then)",
)
def test_probe_state_v2_catalog_query(spark):
    """First real run of the transformWithStateInPandas twin: the
    catalog registers `stateful_running_totals_tws` only when protobuf
    exists; its output must match the state-v1 query's."""
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.plans import (
        QUERIES,
    )

    sf_dir = os.environ.get("PULSELAKE_TEST_SF_DIR", "/root/testdata/sf0.001")
    assert "stateful_running_totals_tws" in QUERIES
    v2 = QUERIES["stateful_running_totals_tws"].spark(spark, sf_dir).collect()
    v1 = QUERIES["stateful_running_totals"].spark(spark, sf_dir).collect()
    assert sorted(map(tuple, v2)) == sorted(map(tuple, v1))


def test_probe_kafka_source_load(spark):
    """First real `.load()` of the Kafka source builder. Needs BOTH the
    spark-sql-kafka jar on the classpath and a reachable broker
    (PULSELAKE_KAFKA_BOOTSTRAP env); skips with the missing piece named."""
    if not _kafka_jar_available(spark):
        pytest.skip(
            "spark-sql-kafka jar not on classpath — kafka_stream builds "
            "options only (sources/kafka.py); flips on with the jar"
        )
    bootstrap = os.environ.get("PULSELAKE_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip(
            "jar present but no broker: set PULSELAKE_KAFKA_BOOTSTRAP to "
            "run a real .load() against a topic"
        )
    from pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark.sources.kafka import (
        kafka_source_options,
        read_kafka_stream,
    )

    df = read_kafka_stream(spark, **kafka_source_options(bootstrap, "probe"))
    assert df.isStreaming
    assert {"key", "value", "topic", "partition", "offset"} <= set(df.columns)
