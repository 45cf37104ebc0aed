"""Streaming LSH near-dup operator (streaming/neardup_stream.py):

1. the map-side signature expression is value-identical to the batch
   minhash_signatures operator (the parity that lets the driver oracle be
   the batch banded-join SQL);
2. the drained pair set is arrival-order independent and implements the
   |ts_a - ts_b| <= horizon rule exactly (Python oracle over batch sigs);
3. in-order drains keep state bounded to one horizon per bucket (members
   evicted once the watermark passes ts + horizon) without losing pairs;
4. crash mid-drain + resume from checkpoint stays exactly-once.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logflow_spark.schema import DOCS_STREAM_SCHEMA
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import replay_stream
from logflow_spark.streaming.neardup_stream import (
    STREAM_BAND_ROWS,
    STREAM_N_BANDS,
    band_keys_col,
    streaming_lsh_neardup,
    with_minhash_sig,
)
from tests.conftest import CACHE

BASE = pd.Timestamp("2025-06-01 00:00:00")


def _family_text(f: int, variant: int) -> str:
    """Near-identical texts within a family, disjoint across families."""
    base = " ".join(f"w{f}x{k}" for k in range(30))
    return base + (f" tail{variant}" if variant else "")


def _scenario() -> pd.DataFrame:
    """5 families x 3 variants, ingest times chosen so some in-family
    pairs sit beyond a 1-hour horizon."""
    rows = []
    did = 0
    for f in range(5):
        for v in range(3):
            # variants 0,1 within 10 min of each other; variant 2 lands
            # 2h later — beyond a 1h horizon of both
            off_min = f * 5 + (v * 10 if v < 2 else 120)
            rows.append(
                {
                    "doc_id": did,
                    "ingest_ts": BASE + pd.Timedelta(minutes=off_min),
                    "text": _family_text(f, v),
                    "lang": "en",
                }
            )
            did += 1
    return pd.DataFrame(rows)


def _expected_pairs(spark, pdf: pd.DataFrame, horizon_s: int) -> set:
    """Independent oracle: batch signatures (parity-tested separately) +
    pure-Python band match and |ts diff| <= horizon rule."""
    sigs = {
        r["doc_id"]: list(r["sig"])
        for r in with_minhash_sig(spark.createDataFrame(pdf, DOCS_STREAM_SCHEMA))
        .filter(F.col("sig").isNotNull())
        .select("doc_id", "sig")
        .collect()
    }
    ts = {int(r.doc_id): r.ingest_ts.value // 1000 for r in pdf.itertuples()}

    def bands(sig):
        return {
            (b, tuple(sig[b * STREAM_BAND_ROWS:(b + 1) * STREAM_BAND_ROWS]))
            for b in range(STREAM_N_BANDS)
        }

    ids = sorted(sigs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if abs(ts[a] - ts[b]) > horizon_s * 1_000_000:
                continue
            if bands(sigs[a]) & bands(sigs[b]):
                n_eq = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
                out.add((a, b, n_eq))
    return out


def _write_chunks(name: str, chunks: list[pd.DataFrame]) -> str:
    fx = os.path.join(CACHE, name)
    shutil.rmtree(fx, ignore_errors=True)
    os.makedirs(fx)
    for i, c in enumerate(chunks):
        c.to_parquet(
            os.path.join(fx, f"chunk-{i:03d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    return fx


def _drain(spark, fx: str, name: str, horizon: str, watermark: str):
    ckpt = os.path.join(CACHE, f"{name}_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = replay_stream(spark, fx, DOCS_STREAM_SCHEMA, max_files_per_trigger=1)
    pairs = streaming_lsh_neardup(
        stream, id_col="doc_id", ts_col="ingest_ts",
        horizon=horizon, watermark=watermark,
    )
    rows: list = []
    progress: list = []
    q = (
        pairs.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    progress = [json.loads(p.json) for p in q.recentProgress]
    return {(r["id_a"], r["id_b"], r["n_equal"]) for r in rows}, progress


@pytest.mark.parametrize("mode", ["jvm", "udf"])
def test_signature_expression_matches_batch_operator(spark, mode):
    from logflow_spark.operators.dedup import N_HASHES, minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = {
        r["doc_id"]: [r[f"mh_{j}"] for j in range(N_HASHES)]
        for r in minhash_signatures(docs).collect()
    }
    streamed = {
        r["doc_id"]: list(r["sig"])
        for r in with_minhash_sig(docs, mode=mode)
        .filter(F.col("sig").isNotNull())
        .select("doc_id", "sig")
        .collect()
    }
    assert streamed == batch


def test_signature_udf_java_whitespace_parity(spark):
    """A vertical-tab (in Java's \\s) and an NBSP (NOT in Java's \\s but in
    Python's Unicode \\s) must tokenize identically in both modes."""
    docs = spark.createDataFrame(
        [(1, "a b\x0bc d e f"), (2, "a b c d e f"), (3, "x y")],
        ["doc_id", "text"],
    )
    sigs = {}
    for mode in ("jvm", "udf"):
        sigs[mode] = {
            r["doc_id"]: list(r["sig"]) if r["sig"] is not None else None
            for r in with_minhash_sig(docs, mode=mode)
            .select("doc_id", "sig")
            .collect()
        }
    assert sigs["jvm"] == sigs["udf"]
    assert sigs["jvm"][3] is None  # < 3 tokens -> no signature


def test_neardup_arrival_order_independent_vs_oracle(spark):
    pdf = _scenario()
    shuffled = pdf.sample(frac=1.0, random_state=11).reset_index(drop=True)
    chunks = [shuffled.iloc[i::3].reset_index(drop=True) for i in range(3)]
    fx = _write_chunks("neardup_oo_fx", chunks)
    # watermark spans everything: every admissible pair must surface
    got, _ = _drain(spark, fx, "neardup_oo", horizon="1 hour", watermark="10 days")
    exp = _expected_pairs(spark, pdf, horizon_s=3600)
    assert got == exp
    # the 1h horizon excluded every family's variant-2 doc (2h away)
    late_ids = {f * 3 + 2 for f in range(5)}
    assert exp and not any(a in late_ids or b in late_ids for a, b, _ in exp)


def test_neardup_bounded_state_and_in_order_drain(spark):
    pdf = _scenario().sort_values("ingest_ts").reset_index(drop=True)
    chunks = [pdf.iloc[i::4].sort_values("ingest_ts") for i in range(4)]
    chunks = [c.reset_index(drop=True) for c in chunks]
    # time-ordered chunks: re-split sequentially instead of round-robin
    n = len(pdf)
    per = -(-n // 4)
    chunks = [pdf.iloc[i * per:(i + 1) * per].reset_index(drop=True) for i in range(4)]
    # trailing far-future flush advances the watermark past every timer
    chunks.append(
        pd.DataFrame(
            [{"doc_id": -1, "ingest_ts": BASE + pd.Timedelta(days=30),
              "text": "flush", "lang": "xx"}]
        )
    )
    fx = _write_chunks("neardup_bound_fx", chunks)
    got, progress = _drain(
        spark, fx, "neardup_bound", horizon="1 hour", watermark="1 minute"
    )
    exp = _expected_pairs(spark, pdf, horizon_s=3600)
    assert got == exp
    # bounded state: members older than one horizon below the watermark are
    # evicted during whatever batch observes them (data or timeout). After
    # the flush batch the watermark covers every real doc, so ONLY the five
    # variant-2 docs (each in 4 bucket keys) may remain — availableNow does
    # not run a trailing no-data batch to fire their last timers, the same
    # residue the absence operator's bounded-state test documents.
    totals = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    assert totals and totals[-1] <= 5 * 4
    assert max(totals) > totals[-1]  # grew, then pruned — never monotonic


def test_neardup_crash_resume_exactly_once(spark):
    pdf = _scenario().sort_values("ingest_ts").reset_index(drop=True)
    n = len(pdf)
    per = -(-n // 4)
    chunks = [pdf.iloc[i * per:(i + 1) * per].reset_index(drop=True) for i in range(4)]
    fx = _write_chunks("neardup_resume_fx", chunks)
    ckpt = os.path.join(CACHE, "neardup_resume_ckpt")
    table = os.path.join(CACHE, "neardup_resume_table")
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
        return streaming_lsh_neardup(
            s, id_col="doc_id", ts_col="ingest_ts",
            horizon="1 hour", watermark="10 days",
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
        (r["id_a"], r["id_b"], r["n_equal"])
        for r in sink.read(spark).distinct().collect()
    }
    assert got == _expected_pairs(spark, pdf, horizon_s=3600)
