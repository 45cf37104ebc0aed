"""EventTimeTimeout state eviction in the stateful as-of join."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from logflow_spark.fixtures.merged_join import MERGED_ARROW_SCHEMA
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import replay_stream
from logflow_spark.streaming.stateful_join import MERGED_SCHEMA, AsofEnrichJoin
from logflow_spark.streaming.topology import drain_to_sink

from tests.conftest import CACHE

T0 = np.datetime64("2025-01-15T00:00:00", "us")
H = np.timedelta64(3600, "s")


def _write_chunks(out_dir: str, chunks: list[pd.DataFrame]) -> str:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    base = time.time() - len(chunks) - 5
    for c, df in enumerate(chunks):
        p = os.path.join(out_dir, f"chunk-{c:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df, schema=MERGED_ARROW_SCHEMA, preserve_index=False),
            p,
        )
        os.utime(p, (base + c, base + c))
    return out_dir


def _row(host, t, is_page, url=None, lang=None, category=None, score=np.nan):
    return {
        "host": host,
        "t": pd.Timestamp(t),
        "is_page": np.int64(is_page),
        "url": url,
        "lang": lang,
        "category": category,
        "score": score,
    }


def _run(spark, merged_dir, ttl_ms, watermark):
    ckpt = os.path.join(CACHE, "ttl_ckpt")
    out = os.path.join(CACHE, "ttl_out")
    for p in (ckpt, out):
        shutil.rmtree(p, ignore_errors=True)
    stream = replay_stream(spark, merged_dir, MERGED_SCHEMA, max_files_per_trigger=1)
    joined = AsofEnrichJoin.apply(stream, watermark=watermark, state_ttl_ms=ttl_ms)
    sink = ExactlyOnceParquetSink(out)
    drain_to_sink(joined, sink, ckpt)
    return {r["url"]: r for r in sink.read(spark).collect()}


def test_idle_host_state_evicted_after_ttl(spark):
    """Host A enriched at t0; watermark advances past t0 + TTL with A idle;
    A's page at t0+3h must find NO state (evicted). Host B, continuously
    active, keeps its enrichment."""
    chunks = [
        # batch 0: enrichment for A and B at t0
        pd.DataFrame(
            [
                _row("a.com", T0, 0, category="news", score=0.5),
                _row("b.com", T0, 0, category="shop", score=0.7),
            ]
        ),
        # batch 1: B activity at t0+2h advances the watermark (1-min delay)
        # beyond A's timeout (t0 + 1h TTL)
        pd.DataFrame([_row("b.com", T0 + 2 * H, 0, category="shop", score=0.8)]),
        # batch 2: more B activity — a batch in which A has NO data while the
        # watermark exceeds its timeout: Spark fires timeouts only for keys
        # absent from the batch, so THIS is where A's state is evicted
        pd.DataFrame([_row("b.com", T0 + 2 * H + np.timedelta64(1, "s"), 0,
                           category="shop", score=0.8)]),
        # batch 3: pages for both at t0+3h
        pd.DataFrame(
            [
                _row("a.com", T0 + 3 * H, 1, url="https://a.com/p/1", lang="en"),
                _row("b.com", T0 + 3 * H, 1, url="https://b.com/p/1", lang="en"),
            ]
        ),
    ]
    d = _write_chunks(os.path.join(CACHE, "ttl_fixture"), chunks)
    got = _run(spark, d, ttl_ms=3_600_000, watermark="1 minute")
    assert got["https://a.com/p/1"]["category"] is None  # state evicted
    assert got["https://b.com/p/1"]["category"] == "shop"  # refreshed at t0+2h
    assert got["https://b.com/p/1"]["score"] == 0.8


def test_large_ttl_matches_no_timeout_semantics(spark):
    """TTL far beyond the horizon: identical output to the NoTimeout path."""
    chunks = [
        pd.DataFrame([_row("a.com", T0, 0, category="docs", score=0.1)]),
        pd.DataFrame([_row("a.com", T0 + H, 1, url="https://a.com/p/9", lang="de")]),
    ]
    d = _write_chunks(os.path.join(CACHE, "ttl_fixture2"), chunks)
    got = _run(spark, d, ttl_ms=10 * 24 * 3_600_000, watermark="1 minute")
    assert got["https://a.com/p/9"]["category"] == "docs"
