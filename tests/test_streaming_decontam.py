"""Streaming decontamination (streaming/decontam_stream.py):

1. the drained per-doc report equals the batch decontaminate() over the
   same corpus and eval set (the parity the driver oracle rests on);
2. short docs (< n tokens) still emit a clean row (the -1 dummy gram);
3. the far-future flush sentinel's window never closes, so it is absent
   from the sink by construction.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from logflow_spark.operators.decontam import _gram_hashes, decontaminate
from logflow_spark.schema import DOCS_STREAM_SCHEMA
from logflow_spark.sources.replay import replay_stream
from logflow_spark.streaming.decontam_stream import streaming_decontaminate
from tests.conftest import CACHE

BASE = pd.Timestamp("2025-06-01 00:00:00")

SNIPPET = " ".join(f"e{k}" for k in range(8))  # one exact 8-gram


def _docs() -> pd.DataFrame:
    rows = [
        # contains the eval 8-gram twice at different offsets -> n_hits = 1
        (0, "prefix " + SNIPPET + " mid " + SNIPPET + " tail"),
        # clean long doc
        (1, " ".join(f"c{k}" for k in range(20))),
        # short doc (< 8 tokens): no grams at all
        (2, "tiny doc"),
        # shares 7 of 8 tokens in order but not the full 8-gram
        (3, " ".join(f"e{k}" for k in range(7)) + " other"),
    ]
    return pd.DataFrame(
        [
            {
                "doc_id": i,
                "ingest_ts": BASE + pd.Timedelta(minutes=5 * i),
                "text": t,
                "lang": "en",
            }
            for i, t in rows
        ]
    )


def _fixture(name: str, docs: pd.DataFrame) -> str:
    fx = os.path.join(CACHE, name)
    shutil.rmtree(fx, ignore_errors=True)
    os.makedirs(fx)
    docs.to_parquet(
        os.path.join(fx, "chunk-000.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    flush = pd.DataFrame(
        [{"doc_id": -1, "ingest_ts": BASE + pd.Timedelta(days=10),
          "text": "flush", "lang": "xx"}]
    )
    flush.to_parquet(
        os.path.join(fx, "chunk-001-flush.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    return fx


def _bench(spark):
    bench = spark.createDataFrame([(100, SNIPPET)], ["eval_id", "eval_text"])
    return _gram_hashes(bench, "eval_id", "eval_text", 8).select("gh").distinct()


def _drain(spark, fx: str, name: str):
    ckpt = os.path.join(CACHE, f"{name}_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = replay_stream(spark, fx, DOCS_STREAM_SCHEMA, max_files_per_trigger=8)
    report = streaming_decontaminate(
        stream, _bench(spark), watermark="1 hour", window="1 hour"
    )
    rows: list = []
    q = (
        report.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return rows


def test_decontam_crash_resume_exactly_once(spark):
    """Kill the drain mid-stream after >=1 committed batch, resume from
    the checkpoint into the exactly-once sink: the final report equals the
    batch operator with no duplicated or lost rows (the windowed agg's
    state replays from the checkpoint, the sink dedups the batch id)."""
    import pytest

    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

    docs = _docs()
    # four single-doc chunks + flush, one file per trigger -> many batches
    fx = os.path.join(CACHE, "decontam_resume_fx")
    shutil.rmtree(fx, ignore_errors=True)
    os.makedirs(fx)
    for i in range(len(docs)):
        docs.iloc[[i]].to_parquet(
            os.path.join(fx, f"chunk-{i:03d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    pd.DataFrame(
        [{"doc_id": -1, "ingest_ts": BASE + pd.Timedelta(days=10),
          "text": "flush", "lang": "xx"}]
    ).to_parquet(
        os.path.join(fx, f"chunk-{len(docs):03d}-flush.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    ckpt = os.path.join(CACHE, "decontam_resume_ckpt")
    table = os.path.join(CACHE, "decontam_resume_table")
    for p in (ckpt, table):
        shutil.rmtree(p, ignore_errors=True)
    sink = ExactlyOnceParquetSink(table)

    calls = {"n": 0}

    def crashing(df, bid):
        if calls["n"] >= 2:
            raise RuntimeError("injected crash")
        sink.write_batch(df, bid)
        calls["n"] += 1

    def stream():
        s = replay_stream(spark, fx, DOCS_STREAM_SCHEMA, max_files_per_trigger=1)
        return streaming_decontaminate(
            s, _bench(spark), watermark="1 hour", window="1 hour"
        )

    q = (
        stream().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(crashing)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    assert len(sink.committed_batches()) >= 1

    q2 = (
        stream().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300)

    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in sink.read(spark).collect()
    }
    bdf = spark.createDataFrame(docs[["doc_id", "text"]], ["doc_id", "text"])
    exp = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(
            bdf, spark.createDataFrame([(100, SNIPPET)], ["eval_id", "eval_text"]),
            n=8,
        ).collect()
    }
    assert got == exp
    assert sink.read(spark).count() == len(docs)  # no dup rows either


def test_stream_matches_batch_decontaminate(spark):
    docs = _docs()
    fx = _fixture("decontam_stream_test", docs)
    rows = _drain(spark, fx, "decontam_stream_test")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"]) for r in rows}
    bdf = spark.createDataFrame(docs[["doc_id", "text"]], ["doc_id", "text"])
    exp = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(
            bdf, spark.createDataFrame([(100, SNIPPET)], ["eval_id", "eval_text"]),
            n=8,
        ).collect()
    }
    assert got == exp
    assert got[0] == (1, True)     # repeated gram counted DISTINCT once
    assert got[2] == (0, False)    # short doc still reported
    assert got[3] == (0, False)    # 7-token overlap is not an 8-gram hit
    assert -1 not in got           # sentinel window never closed
    assert len(rows) == len(docs)  # exactly one row per data doc
