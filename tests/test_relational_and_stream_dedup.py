"""OLAP/relational operators + streaming ingest dedup."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_rollup_counts_levels(spark):
    from logflow_spark.operators.relational import rollup_counts

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": ["x", "x", "y", "y", "y"],
                "b": ["1", "2", "1", "1", "2"],
                "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            }
        )
    )
    out = {
        (r["a"], r["b"]): (r["cnt"], r["sum_v"])
        for r in rollup_counts(df, ("a", "b"), agg_col="value").collect()
    }
    assert out[("x", "1")] == (1, 1.0)
    assert out[("x", "<all>")] == (2, 3.0)
    assert out[("y", "<all>")] == (3, 12.0)
    assert out[("<all>", "<all>")] == (5, 15.0)
    assert ("<all>", "1") not in out  # rollup, not cube


def test_semi_anti_join_partition_and_complement(spark):
    from logflow_spark.operators.relational import anti_join_keys, semi_join_keys

    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("custkey")
    )
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_totalprice") > 300000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )
    n_semi = semi_join_keys(cust, orders, "custkey").count()
    n_anti = anti_join_keys(cust, orders, "custkey").count()
    assert n_semi + n_anti == cust.count()  # exact partition of the left side
    assert n_semi > 0 and n_anti > 0


def test_anti_join_plan_broadcasts_key_set_only(spark):
    import contextlib
    import io

    from logflow_spark.operators.relational import anti_join_keys

    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("custkey")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        anti_join_keys(cust, orders, "custkey").explain("formatted")
    s = buf.getvalue()
    assert "BroadcastHashJoin LeftAnti" in s.replace("  ", " ") or (
        "LeftAnti" in s and "BroadcastHashJoin" in s
    )
    # only the key column is read from the right side
    read_schemas = [ln for ln in s.splitlines() if "ReadSchema" in ln]
    assert any("o_custkey" in ln and "o_totalprice" not in ln for ln in read_schemas)


def test_disc_quantiles_match_duckdb(spark):
    """quantile_disc semantics: smallest value with CDF >= q."""
    import duckdb

    from logflow_spark.operators.relational import disc_quantiles

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 7 + ["b"] * 4,
            "v": [5.0, 1.0, 3.0, 2.0, 4.0, 7.0, 6.0, 10.0, 40.0, 30.0, 20.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r["k"], r["q_e2"]): r["value"]
        for r in disc_quantiles(df, "v", (0.5, 0.95, 0.99), keys=("k",)).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    for q in (0.5, 0.95, 0.99):
        for k, v in con.execute(
            f"SELECT k, quantile_disc(v, {q}) FROM t GROUP BY k"
        ).fetchall():
            assert got[(k, int(round(q * 100)))] == v, (k, q)


def test_cep_bursts_arrival_order_independent(spark):
    """Planted bursts, rows shuffled adversarially across replay chunks:
    the emit-once set must equal the batch RANGE-window oracle (burst-ness
    is monotone in the event multiset)."""
    import os
    import shutil

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.cep import detect_bursts
    from logflow_spark.streaming.topology import drain_to_sink
    from tests.conftest import CACHE

    base = pd.Timestamp("2025-03-01 00:00:00")
    rows = []
    # host A: 30 events in 10 minutes -> bursts from the 20th event on
    for i in range(30):
        rows.append(("a.example.com", base + pd.Timedelta(seconds=20 * i)))
    # host B: 19 events in the window -> never bursts at n_events=20
    for i in range(19):
        rows.append(("b.example.com", base + pd.Timedelta(seconds=30 * i)))
    # host C: 40 events spread over 40 hours -> never 20 in 30 minutes
    for i in range(40):
        rows.append(("c.example.com", base + pd.Timedelta(hours=i)))
    pdf = pd.DataFrame(rows, columns=["host", "warc_ts"])
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)  # shuffle

    fx = os.path.join(CACHE, "cep_oo_fixture")
    shutil.rmtree(fx, ignore_errors=True)
    os.makedirs(fx)
    schema = pa.schema(
        [pa.field("host", pa.string()), pa.field("warc_ts", pa.timestamp("us"))]
    )
    sz = (len(pdf) + 3) // 4
    import time as _time

    t0 = _time.time() - 20
    for c in range(4):
        part = pdf.iloc[c * sz : (c + 1) * sz]
        p = os.path.join(fx, f"chunk-{c:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False), p)
        os.utime(p, (t0 + c, t0 + c))

    ckpt = os.path.join(CACHE, "cep_oo_ckpt")
    out_dir = os.path.join(CACHE, "cep_oo_out")
    for p in (ckpt, out_dir):
        shutil.rmtree(p, ignore_errors=True)
    spark_schema = StructType(
        [
            StructField("host", StringType(), True),
            StructField("warc_ts", TimestampType(), True),
        ]
    )
    stream = replay_stream(spark, fx, spark_schema, max_files_per_trigger=1)
    sink = ExactlyOnceParquetSink(out_dir)
    drain_to_sink(detect_bursts(stream, n_events=20, window="30 minutes"), sink, ckpt)
    got = {(r["host"], r["burst_ts"]) for r in sink.read(spark).collect()}

    con = duckdb.connect()
    con.register("p", pdf)
    exp = {
        (h, t)
        for h, t in con.execute(
            """
            SELECT DISTINCT host, warc_ts FROM (
              SELECT host, warc_ts,
                     count(*) OVER (PARTITION BY host ORDER BY warc_ts
                                    RANGE BETWEEN INTERVAL '30 minutes' PRECEDING
                                    AND CURRENT ROW) AS c
              FROM p) WHERE c >= 20
            """
        ).fetchall()
    }
    assert got == {(h, pd.Timestamp(t)) for h, t in exp} or got == exp
    hosts = {h for h, _ in got}
    assert hosts == {"a.example.com"}  # only the planted burst host fires
    assert len(got) == 11  # events 20..30 of host A qualify


def test_streaming_dedup_matches_batch_distinct(spark, pages_dir):
    """dropDuplicatesWithinWatermark digest set == batch DISTINCT digest."""
    import os
    import shutil

    from logflow_spark.operators.dedup import md5_60bit
    from logflow_spark.schema import PAGES_SCHEMA
    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.stream_dedup import streaming_distinct_digests
    from logflow_spark.streaming.topology import drain_to_sink
    from tests.conftest import CACHE

    ckpt = os.path.join(CACHE, "sdedup_ckpt")
    out_dir = os.path.join(CACHE, "sdedup_out")
    for p in (ckpt, out_dir):
        shutil.rmtree(p, ignore_errors=True)

    stream = pages_replay_stream(spark, pages_dir, max_files_per_trigger=2)
    sink = ExactlyOnceParquetSink(out_dir)
    drain_to_sink(streaming_distinct_digests(stream), sink, ckpt)
    got = {r["digest"] for r in sink.read(spark).collect()}
    batch = spark.read.schema(PAGES_SCHEMA).parquet(pages_dir)
    exp = {
        r["digest"]
        for r in batch.filter(F.col("text").isNotNull())
        .select(md5_60bit(F.col("text")).alias("digest"))
        .distinct()
        .collect()
    }
    assert got == exp
    assert len(got) > 0


def test_funnel_pairs_sequence_semantics(spark):
    """view→purchase within 30 min: earliest qualifying purchase only;
    purchases BEFORE the view or beyond the horizon never match."""
    import datetime as dt

    import pandas as pd

    from logflow_spark.operators.relational import funnel_pairs

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        # user 1: view at 0 → purchases at 10 (match) and 20 (ignored)
        (1, 1, "view", ts(0)),
        (2, 1, "purchase", ts(10)),
        (3, 1, "purchase", ts(20)),
        # user 2: purchase BEFORE the view only → no match
        (4, 2, "purchase", ts(0)),
        (5, 2, "view", ts(5)),
        # user 3: purchase 31 min after the view → outside horizon
        (6, 3, "view", ts(0)),
        (7, 3, "purchase", ts(31)),
        # user 4: two views share the same later purchase
        (8, 4, "view", ts(0)),
        (9, 4, "view", ts(5)),
        (10, 4, "purchase", ts(25)),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    )
    got = {
        (r["user_id"], r["first_event_id"]): r["gap_us"]
        for r in funnel_pairs(df).collect()
    }
    m = 60 * 1_000_000
    assert got == {(1, 1): 10 * m, (4, 8): 25 * m, (4, 9): 20 * m}

    # absence = exact complement over the same frame: every view lands in
    # exactly one of the two outputs
    from logflow_spark.operators.relational import funnel_absence

    absent = {r["first_event_id"] for r in funnel_absence(df).collect()}
    assert absent == {5, 6}  # user 2 (purchase before) + user 3 (31 min late)
    matched = {eid for _, eid in got}
    views = {r["event_id"] for r in df.filter("event_type = 'view'").collect()}
    assert (matched | absent) == views and not (matched & absent)
