"""Streaming-vs-batch equivalence, watermark late-data drop, exactly-once sink.

These are the tests the reference never had (SURVEY.md §5): its watermark
parameter was stored but never wired; here watermarks demonstrably drive
late-data drop, and the streaming output equals the batch recomputation.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from logflow_spark.schema import PAGES_SCHEMA
from logflow_spark.session import CHECKPOINT_FILE_MANAGER
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import pages_replay_stream
from logflow_spark.streaming.topology import (
    TopologyConfig,
    build_windowed_topology,
    drain_to_sink,
)

from tests.conftest import CACHE


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _rows_set(df, cols=("window_start", "window_end", "lang", "host", "cnt")):
    # exclude the end-of-stream flush sentinel (its own window never closes
    # on the streaming side, and it is not part of the workload)
    df = df.filter(F.col("lang") != "xx")
    return {tuple(r[c] for c in cols) for r in df.collect()}


@pytest.mark.parametrize("kind", ["tumbling", "sliding", "session"])
def test_streaming_equals_batch(spark, pages_dir, kind):
    """availableNow streaming drain over ordered chunks == batch recomputation.

    Input has no late data (every event is within watermark when its chunk
    arrives? not guaranteed — event times are out-of-order by design). So we
    use a generous watermark (73 hours > full span): nothing is ever late,
    and append-mode must emit exactly the batch result.
    """
    cfg = TopologyConfig(window_kind=kind, watermark="73 hours")
    batch_df = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
    expected = _rows_set(build_windowed_topology(batch_df, cfg, streaming=False))

    sink = ExactlyOnceParquetSink(_fresh(os.path.join(CACHE, f"eq_{kind}_sink")))
    ckpt = _fresh(os.path.join(CACHE, f"eq_{kind}_ckpt"))
    stream = pages_replay_stream(spark, pages_dir, max_files_per_trigger=2)
    drain_to_sink(build_windowed_topology(stream, cfg, streaming=True), sink, ckpt)

    got = _rows_set(sink.read(spark))
    assert got == expected
    assert sink.metrics()["total_rows"] == len(expected)


def test_late_data_dropped(spark, pages_late_dir, pages_dir):
    """Rows arriving behind the watermark are dropped from closed windows.

    The late fixture shifts every 97th row back 45 min; with a 10-min
    watermark some of those rows arrive after their window's watermark has
    passed → total streamed count < total input rows, and every emitted
    window is a subset-or-equal of the batch per-window counts.
    """
    cfg = TopologyConfig(window_kind="tumbling", watermark="10 minutes")
    batch_df = spark.read.schema(PAGES_SCHEMA).parquet(pages_late_dir)
    n_input = batch_df.filter(F.col("lang") != "xx").count()
    batch_counts = {
        (r["window_start"], r["lang"], r["host"]): r["cnt"]
        for r in build_windowed_topology(batch_df, cfg, streaming=False)
        .filter(F.col("lang") != "xx")
        .collect()
    }

    sink = ExactlyOnceParquetSink(_fresh(os.path.join(CACHE, "late_sink")))
    ckpt = _fresh(os.path.join(CACHE, "late_ckpt"))
    stream = pages_replay_stream(spark, pages_late_dir, max_files_per_trigger=1)
    drain_to_sink(build_windowed_topology(stream, cfg, streaming=True), sink, ckpt)

    out = sink.read(spark).filter(F.col("lang") != "xx")
    n_streamed = out.agg(F.sum("cnt")).collect()[0][0]
    assert n_streamed < n_input  # some late rows were dropped
    for r in out.collect():
        k = (r["window_start"], r["lang"], r["host"])
        assert k in batch_counts
        assert r["cnt"] <= batch_counts[k]


def test_exactly_once_replay_and_resume(spark, pages_dir):
    """Kill mid-stream, restart from checkpoint → no dups, no gaps."""
    # the checkpoint is written and resumed through the FileSystem-based
    # manager that get_spark sets
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == CHECKPOINT_FILE_MANAGER
    )
    cfg = TopologyConfig(window_kind="tumbling", watermark="73 hours")
    batch_df = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
    expected = _rows_set(build_windowed_topology(batch_df, cfg, streaming=False))

    table = _fresh(os.path.join(CACHE, "resume_sink"))
    ckpt = _fresh(os.path.join(CACHE, "resume_ckpt"))
    sink = ExactlyOnceParquetSink(table)

    # Phase 1: a sink that crashes after 3 successful commits.
    calls = {"n": 0}

    def crashing(df, batch_id):
        if calls["n"] >= 3:
            raise RuntimeError("injected crash")
        sink.write_batch(df, batch_id)
        calls["n"] += 1

    stream = pages_replay_stream(spark, pages_dir, max_files_per_trigger=1)
    from logflow_spark.streaming.topology import build_windowed_topology as bwt

    agg = bwt(stream, cfg, streaming=True)
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(crashing)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    n_after_crash = len(sink.committed_batches())
    assert n_after_crash >= 1

    # Phase 2: restart from the same checkpoint with the healthy sink.
    # Spark replays the failed batch_id; write_batch is idempotent.
    stream2 = pages_replay_stream(spark, pages_dir, max_files_per_trigger=1)
    drain_to_sink(build_windowed_topology(stream2, cfg, streaming=True), sink, ckpt)

    got = _rows_set(sink.read(spark))
    assert got == expected


def test_idempotent_batch_rewrite(spark, pages_dir):
    """Re-writing an already-committed batch_id is a no-op."""
    table = _fresh(os.path.join(CACHE, "idem_sink"))
    sink = ExactlyOnceParquetSink(table)
    df = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir).limit(100)
    sink.write_batch(df.select("url", "lang"), 7)
    m1 = sink.metrics()
    sink.write_batch(df.select("url", "lang"), 7)  # replay
    m2 = sink.metrics()
    assert m1 == m2
    assert sink.read(spark).count() == 100


def test_drain_to_sink_restores_confs_and_fails_loudly(spark, pages_dir):
    """drain_to_sink scopes both confs across start and wait and restores
    them on every exit path; an overrun stops the query and raises."""
    sp, mpb = "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes"
    before = (spark.conf.get(sp), spark.conf.get(mpb))
    cfg = TopologyConfig(window_kind="tumbling", watermark="73 hours")

    def drain(name, **kw):
        sink = ExactlyOnceParquetSink(_fresh(os.path.join(CACHE, f"{name}_sink")))
        ckpt = _fresh(os.path.join(CACHE, f"{name}_ckpt"))
        stream = pages_replay_stream(spark, pages_dir, max_files_per_trigger=8)
        agg = build_windowed_topology(stream, cfg, streaming=True)
        return sink, drain_to_sink(
            agg, sink, ckpt, state_partitions=3, max_partition_bytes=1 << 20, **kw
        )

    sink, q = drain("scoped")
    assert not q.isActive
    assert sink.metrics()["total_rows"] > 0
    last = json.loads(q.recentProgress[-1].json)
    assert last["stateOperators"][0]["numShufflePartitions"] == 3
    assert (spark.conf.get(sp), spark.conf.get(mpb)) == before

    with pytest.raises(TimeoutError):
        drain("overrun", timeout_s=0.001)
    assert spark.streams.active == []
    assert (spark.conf.get(sp), spark.conf.get(mpb)) == before
