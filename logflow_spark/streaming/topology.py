"""The flagship streaming topology (north_rule):

  source (chunked replay / kafka)
    → parse   (html → text via Arrow pandas UDF, only where text is null)
    → enrich  (host(url) JVM-side; optional as-of host enrichment)
    → window-aggregate (tumbling / sliding / session, watermarked)
    → sink    (exactly-once commit-log parquet table)

The transformation chain is ONE function (`build_windowed_topology`) applied
to either a batch frame (oracle) or a streaming frame (production) — the
streaming-vs-batch equivalence the reference never had (its watermark
parameter was accepted but never wired: extractor/flink_kafka_extractor.py:17,33).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from logflow_spark.functions.text import extract_text_udf
from logflow_spark.operators import windows as W
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink


@dataclass
class TopologyConfig:
    window_kind: str = "tumbling"  # tumbling | sliding | session
    duration: str = "10 minutes"
    slide: str = "5 minutes"
    gap: str = "30 minutes"
    watermark: str = "30 minutes"
    keys: tuple[str, ...] = ("lang", "host")
    ts_col: str = "warc_ts"
    extract_when_missing: bool = True
    # aggregate over the EXTRACTED text so the parse stage is load-bearing:
    # without a consumer, Catalyst's column pruning deletes the html→text
    # UDF from the plan entirely (correct, but then the topology no longer
    # contains its parse stage)
    sum_text_chars: bool = False
    extra_aggs: list = field(default_factory=list)
    # how html→text runs: 'udf' = Arrow pandas UDF (default), 'jvm' =
    # built-in-expression twin (whole-stage codegen, zero Python boundary).
    # Both are byte-identical per url (tests/test_property_extraction.py).
    extract_mode: str = "udf"


def parse_and_enrich(df: DataFrame, cfg: TopologyConfig) -> DataFrame:
    """html→text (vectorized, only for rows missing text) + host key."""
    if cfg.extract_when_missing and "html" in df.columns:
        if cfg.extract_mode == "jvm":
            from logflow_spark.functions.text import extract_text_expr

            extracted = extract_text_expr(F.col("html"))
        elif cfg.extract_mode == "udf":
            extracted = extract_text_udf(F.col("html"))
        else:
            raise ValueError(f"unknown extract mode {cfg.extract_mode}")
        df = df.withColumn("text", F.coalesce(F.col("text"), extracted))
    return W.with_host(df)


def windowed_agg(df: DataFrame, cfg: TopologyConfig) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("cnt")] + list(cfg.extra_aggs)
    if cfg.sum_text_chars:
        aggs.append(F.sum(F.length("text")).alias("sum_chars"))
    if cfg.window_kind == "tumbling":
        return W.tumbling_counts(df, cfg.ts_col, cfg.duration, cfg.keys, aggs=aggs)
    if cfg.window_kind == "sliding":
        return W.sliding_counts(
            df, cfg.ts_col, cfg.duration, cfg.slide, cfg.keys, aggs=aggs
        )
    if cfg.window_kind == "session":
        return W.session_counts(df, cfg.ts_col, cfg.gap, cfg.keys, aggs=aggs)
    raise ValueError(f"unknown window kind {cfg.window_kind}")


def build_windowed_topology(
    df: DataFrame, cfg: TopologyConfig, streaming: bool
) -> DataFrame:
    out = parse_and_enrich(df, cfg)
    if streaming:
        out = out.withWatermark(cfg.ts_col, cfg.watermark)
    return windowed_agg(out, cfg)


def _start_append(
    df: DataFrame, sink, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Start ``df`` as an append-mode ``foreachBatch(sink.foreach_batch())``
    query: the writer every drain and long-running topology shares."""
    w = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_streaming_to_sink(
    stream_df: DataFrame,
    cfg: TopologyConfig,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Wire the topology to the exactly-once sink and start it (no wait).

    append mode + watermark → a window's row is emitted exactly once, when
    the watermark passes its end (late rows beyond the watermark are
    dropped). availableNow drains a replay fixture to completion and stops —
    the deterministic test/bench mode; omit for a long-running query. To
    drain and wait, pass ``build_windowed_topology(..., streaming=True)`` to
    ``drain_to_sink``.
    """
    agg = build_windowed_topology(stream_df, cfg, streaming=True)
    return _start_append(agg, sink, checkpoint_dir, available_now)


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, key: str, value) -> Iterator[None]:
    """Set a session conf for the block and restore it on every exit path;
    ``None`` leaves the conf alone."""
    if value is None:
        yield
        return
    prev = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def drain_to_sink(
    df: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint_dir: str,
    *,
    state_partitions: int | None = None,
    max_partition_bytes: int | None = None,
    timeout_s: float | None = 600,
) -> StreamingQuery:
    """Drain a streaming frame into ``sink`` with an availableNow trigger
    and wait until every available input is committed.

    Returns the terminated query (its ``recentProgress`` stays readable).
    A drain still running after ``timeout_s`` seconds is stopped and raises
    ``TimeoutError``: a throttled host overrunning the drain must fail
    loudly instead of letting the caller read a partial snapshot.
    ``timeout_s=None`` waits without limit.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` (= the
    number of streaming state-store instances) for the drain. Stateful
    operators pay a fixed per-store-per-batch cost (open/commit/snapshot)
    that dwarfs the data at fixture scale: 8 partitions is plenty for
    ≤100k-row drains. The state partition count binds at checkpoint
    creation, so per-drain scoping is safe.

    ``max_partition_bytes`` scopes ``spark.sql.files.maxPartitionBytes``.
    openCostInBytes packing folds many small replay chunks into 1-2 scan
    splits, so the whole stateless map (tokenize/gram/md5/signature work)
    of a 50k-row micro-batch ran on 2 tasks (measured: addBatch 22 s, of
    which state commit 1.7 s). A cap below openCost forces one split per
    chunk file (scan parallelism = chunk count) without touching the state
    partitions.

    Both confs are restored when the drain returns or raises.
    """
    spark = df.sparkSession
    with (
        _scoped_conf(spark, "spark.sql.shuffle.partitions", state_partitions),
        _scoped_conf(spark, "spark.sql.files.maxPartitionBytes", max_partition_bytes),
    ):
        q = _start_append(df, sink, checkpoint_dir)
        if timeout_s is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"streaming drain still running after {timeout_s}s")
    return q
