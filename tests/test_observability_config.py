"""Streaming metrics (observe + listener), multi-sink fan-out, config loader."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from logflow_spark.pipeline.config import load_properties, validate_required
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import pages_replay_stream
from logflow_spark.streaming.observability import (
    MetricsListener,
    fanout_foreach_batch,
    with_observed_metrics,
)
from logflow_spark.streaming.topology import drain_to_sink

from tests.conftest import CACHE


def _fresh(p):
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p, exist_ok=True)
    return p


def test_observed_metrics_and_fanout(spark, pages_dir):
    """One stream, two sinks, engine-side counters — reference MS1 + A2."""
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        sink_a = ExactlyOnceParquetSink(_fresh(os.path.join(CACHE, "fan_a")))
        sink_b = ExactlyOnceParquetSink(_fresh(os.path.join(CACHE, "fan_b")))
        ckpt = _fresh(os.path.join(CACHE, "fan_ckpt"))

        stream = with_observed_metrics(
            pages_replay_stream(spark, pages_dir, max_files_per_trigger=4)
        )
        fanout = fanout_foreach_batch([sink_a.foreach_batch(), sink_b.foreach_batch()])
        drain_to_sink(stream, SimpleNamespace(foreach_batch=lambda: fanout), ckpt)

        n_a = sink_a.metrics()["total_rows"]
        n_b = sink_b.metrics()["total_rows"]
        assert n_a == n_b > 0
        # listener saw every input row exactly once
        import time

        deadline = time.time() + 30
        while listener.totals()["num_input_rows"] < n_a and time.time() < deadline:
            time.sleep(0.5)
        totals = listener.totals()
        assert totals["num_input_rows"] == n_a
        assert totals["observed_rows"] == n_a
    finally:
        spark.streams.removeListener(listener)


def test_load_properties(tmp_path, monkeypatch):
    p = tmp_path / "app.properties"
    p.write_text(
        """
# comment
kafka.topic=logs
sink.path=${DATA_ROOT}/out
batch.size=1000
""".strip()
    )
    props = load_properties(str(p), env={"DATA_ROOT": "/data"})
    assert props == {
        "kafka.topic": "logs",
        "sink.path": "/data/out",
        "batch.size": "1000",
    }
    # env override: KAFKA_TOPIC beats file value
    props2 = load_properties(
        str(p), env={"DATA_ROOT": "/data", "KAFKA_TOPIC": "other"}
    )
    assert props2["kafka.topic"] == "other"


def test_load_properties_fails_fast(tmp_path):
    p = tmp_path / "bad.properties"
    p.write_text("x=${UNDEFINED_VAR}")
    with pytest.raises(KeyError, match="UNDEFINED_VAR"):
        load_properties(str(p), env={})
    validate_required({"a": "1"}, ["a"])
    with pytest.raises(ValueError, match="missing required"):
        validate_required({"a": ""}, ["a", "b"])
