"""Stateful stream-stream join vs batch oracle; salted agg vs plain agg."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from logflow_spark.fixtures.merged_join import ensure_merged_join_fixture
from logflow_spark.fixtures.pages import pages_spark_df
from logflow_spark.operators.asof_join import (
    asof_join_pages_enrichment,
    interval_join,
)
from logflow_spark.operators.skew import salted_counts, salted_sum
from logflow_spark.operators.windows import with_host
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import replay_stream
from logflow_spark.streaming.stateful_join import (
    MERGED_SCHEMA,
    AsofEnrichJoin,
)
from logflow_spark.streaming.topology import drain_to_sink

from tests.conftest import CACHE

N_PAGES, N_HOSTS = 2000, 200


def _fresh(p):
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p, exist_ok=True)
    return p


def _pages_enrichment(spark):
    from logflow_spark.fixtures.enrichment import enrichment_pandas

    pages = with_host(pages_spark_df(spark, N_PAGES, n_hosts=N_HOSTS))
    enr = spark.createDataFrame(enrichment_pandas(N_HOSTS))
    return pages, enr


def test_batch_asof_join_matches_duckdb_asof(spark):
    """Single-shuffle window-function as-of join == DuckDB ASOF JOIN oracle."""
    import duckdb

    from logflow_spark.fixtures.enrichment import enrichment_pandas
    from logflow_spark.fixtures.pages import pages_pandas

    pages, enr = _pages_enrichment(spark)
    got = {
        (r["url"], r["enrich_ts"], r["category"], r["score"])
        for r in asof_join_pages_enrichment(pages, enr).collect()
    }

    pp = pages_pandas(0, N_PAGES, n_hosts=N_HOSTS)
    pp["host"] = pp["url"].str.extract(r"^[a-z]+://([^/]+)")
    ep = enrichment_pandas(N_HOSTS)
    con = duckdb.connect()
    con.register("pages", pp)
    con.register("enr", ep)
    oracle = con.execute(
        """
        SELECT p.url, e.ts AS enrich_ts, e.category, e.score
        FROM pages p ASOF LEFT JOIN enr e
          ON p.host = e.host AND p.warc_ts >= e.ts
        """
    ).df()
    exp = {
        (
            r.url,
            None if r.enrich_ts != r.enrich_ts else r.enrich_ts.to_pydatetime(),
            None if r.category != r.category else r.category,
            None if r.score != r.score else r.score,
        )
        for r in oracle.itertuples()
    }
    assert got == exp


def test_stateful_asof_join_matches_batch_oracle(spark):
    """applyInPandasWithState over time-ordered replay == batch as-of join."""
    merged_dir = ensure_merged_join_fixture(
        os.path.join(CACHE, f"merged_join_{N_PAGES}_{N_HOSTS}"),
        n_pages=N_PAGES,
        n_hosts=N_HOSTS,
        n_chunks=6,
    )
    ckpt = _fresh(os.path.join(CACHE, "asof_ckpt"))
    out_dir = _fresh(os.path.join(CACHE, "asof_out"))

    stream = replay_stream(spark, merged_dir, MERGED_SCHEMA, max_files_per_trigger=1)
    joined = AsofEnrichJoin.apply(stream, watermark="73 hours")
    sink = ExactlyOnceParquetSink(out_dir)
    drain_to_sink(joined, sink, ckpt)

    got = {
        (r["url"], r["enrich_ts"], r["category"], r["score"])
        for r in sink.read(spark).collect()
    }
    pages, enr = _pages_enrichment(spark)
    exp = {
        (r["url"], r["enrich_ts"], r["category"], r["score"])
        for r in asof_join_pages_enrichment(pages, enr).collect()
    }
    assert got == exp


def test_streaming_interval_join_matches_batch(spark, pages_dir, enrichment_dir):
    """Native watermarked stream-stream interval join == batch interval join."""
    from logflow_spark.schema import HOST_ENRICHMENT_SCHEMA, PAGES_SCHEMA
    from logflow_spark.sources.replay import (
        enrichment_replay_stream,
        pages_replay_stream,
    )
    from logflow_spark.streaming.stateful_join import watermarked_interval_join

    ckpt = _fresh(os.path.join(CACHE, "ivj_ckpt"))
    out_dir = _fresh(os.path.join(CACHE, "ivj_out"))

    p_stream = with_host(pages_replay_stream(spark, pages_dir, max_files_per_trigger=2))
    e_stream = enrichment_replay_stream(spark, enrichment_dir, max_files_per_trigger=1)
    joined = watermarked_interval_join(
        p_stream, e_stream, "73 hours", "73 hours", lookback="1 hour"
    ).select("url", "warc_ts", "enrich_ts", "category", "score")
    sink = ExactlyOnceParquetSink(out_dir)
    drain_to_sink(joined, sink, ckpt)
    got = {tuple(r) for r in sink.read(spark).collect()}

    batch_pages = with_host(spark.read.schema(PAGES_SCHEMA).parquet(pages_dir))
    batch_enr = spark.read.schema(HOST_ENRICHMENT_SCHEMA).parquet(enrichment_dir)
    exp = {
        tuple(r)
        for r in interval_join(batch_pages, batch_enr, "1 hour")
        .select("url", "warc_ts", "enrich_ts", "category", "score")
        .collect()
    }
    assert len(exp) > 0
    assert got == exp


def test_salted_counts_equal_plain(spark):
    """Hot-host input (50% of rows on one host): salted == plain group count."""
    df = with_host(pages_spark_df(spark, 5000, n_hosts=50, skew_frac=0.5))
    plain = {
        (r["host"],): r["cnt"]
        for r in df.groupBy("host").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {
        (r["host"],): r["cnt"] for r in salted_counts(df, ["host"], n_salts=16).collect()
    }
    assert salted == plain
    hot = f"h0.example-0.com"
    assert plain[(hot,)] >= 2500  # the skew actually exists


def test_salted_sum_equal_plain(spark):
    df = with_host(pages_spark_df(spark, 3000, n_hosts=50, skew_frac=0.5))
    df = df.withColumn("v", F.length("text").cast("long"))
    plain = {
        (r["host"],): r["s"]
        for r in df.groupBy("host").agg(F.sum("v").alias("s")).collect()
    }
    salted = {
        (r["host"],): r["sum_v"]
        for r in salted_sum(df, ["host"], "v", n_salts=8, salt_source="url").collect()
    }
    assert salted == plain
