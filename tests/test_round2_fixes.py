"""Round-2 regression tests: short-doc shingles, stranded DAG steps,
single-DAG tfidf, and Arrow-chunk-independent stateful as-of join."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import CACHE


# -- shingles_df short-doc guard ---------------------------------------------
def test_shingles_short_docs_no_crash(spark):
    """Docs with < n tokens must yield ZERO shingles, not throw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (Spark sequence(0,-1) counts DOWN)."""
    from logflow_spark.operators.dedup import (
        jaccard_pairs,
        minhash_signatures,
        shingles_df,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": ["", "one", "one two", "one two three", "a b c d"],
            }
        )
    )
    sh = shingles_df(df).toPandas()
    per_doc = sh.groupby("doc_id").size().to_dict()
    assert per_doc.get(0, 0) == 0
    assert per_doc.get(1, 0) == 0
    assert per_doc.get(2, 0) == 0
    assert per_doc.get(3, 0) == 1
    assert per_doc.get(4, 0) == 2
    # the downstream operators must also survive short docs
    sigs = minhash_signatures(df).collect()
    assert {r["doc_id"] for r in sigs} == {3, 4}  # shingle-less docs drop out
    jaccard_pairs(df, threshold=0.1).collect()  # no crash


def test_shingles_short_docs_match_duckdb(spark):
    """Short docs diverged from the oracle before the guard; now both sides
    agree doc-for-doc."""
    import duckdb

    texts = ["", "x", "x y", "x y z", "x y z w v"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    from logflow_spark.operators.dedup import shingles_df

    got = {
        (r["doc_id"], r["shingle"]) for r in shingles_df(df).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    exp = {
        tuple(r)
        for r in con.execute(
            """
            WITH tok AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') AS toks
                  FROM documents)
            SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
            FROM tok, unnest(range(greatest(len(toks)-2,0))) AS t(i)
            """
        ).fetchall()
    }
    assert got == exp


# -- DAG runner: stranded steps must raise ------------------------------------
def test_run_dag_raises_on_missing_dependency():
    from logflow_spark.pipeline.runner import run_dag

    dag = {"a": {"pipeline": "noop", "depends_on": ["ghost"]}}
    with pytest.raises(RuntimeError, match="never became runnable.*'a'"):
        run_dag(dag)


def test_run_dag_raises_on_cycle():
    from logflow_spark.pipeline.runner import run_dag

    dag = {
        "a": {"pipeline": "noop", "depends_on": ["b"]},
        "b": {"pipeline": "noop", "depends_on": ["a"]},
    }
    with pytest.raises(RuntimeError, match="never became runnable"):
        run_dag(dag)


# -- tfidf: no driver-side action while building the plan ----------------------
def test_top_terms_builds_without_running_a_job(spark):
    from logflow_spark.operators.tfidf import top_terms_per_source

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "source": ["s1", "s1", "s2"],
                "text": ["alpha beta beta", "alpha gamma", "delta delta delta"],
            }
        )
    )
    sc = spark.sparkContext
    sc.setJobGroup("tfidf_build_only", "plan construction must not submit jobs")
    try:
        df = top_terms_per_source(docs, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("tfidf_build_only") == []
    # and the plan still computes the right distinctive terms
    rows = {(r["source"], r["rank"]): r["token"] for r in df.collect()}
    assert rows[("s2", 1)] == "delta"


# -- P8/P9: processing-time stamp + residual-map flatten ----------------------
def test_promote_and_flag_p8_p9(spark):
    import json
    from datetime import datetime, timedelta, timezone

    from logflow_spark.fixtures.log_events import log_events_spark_df
    from logflow_spark.operators.log_enrich import promote_and_flag

    rows = promote_and_flag(log_events_spark_df(spark, 20)).collect()
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    for r in rows:
        # P8: processing-time stamp exists and is wall-clock recent
        assert abs(now - r["proc_ts"]) < timedelta(minutes=5)
        # P9: residual map flattened to schema-stable JSON string
        parsed = json.loads(r["resources_json"])
        assert set(parsed) == {"host", "env"}
        assert parsed == dict(r["resources"])


# -- P7: console debug sink ----------------------------------------------------
def test_console_debug_sink_prints_maps_as_json(spark, capsys):
    from logflow_spark.fixtures.log_events import log_events_spark_df
    from logflow_spark.streaming.observability import console_debug_sink

    df = log_events_spark_df(spark, 3)
    console_debug_sink(n=3)(df, batch_id=7)
    out = capsys.readouterr().out
    assert "--- batch 7 ---" in out
    assert '{"msg":"proxy-request"' in out  # map rendered as JSON, not Map(...)


# -- served query: plan shape ---------------------------------------------------
def test_served_query_plan_is_single_topk(spark):
    """The five reference CTE stages must collapse into one plan ending in
    TakeOrderedAndProject (no global sort), with the service filter pushed
    to the parquet scan."""
    import __spark_entry__ as m
    from logflow_spark.operators.log_enrich import served_query
    from logflow_spark.schema import LOG_EVENTS_SCHEMA

    m._ensure_log_events()
    logs = spark.read.schema(LOG_EVENTS_SCHEMA).parquet(m.LOG_EVENTS_PATH)
    q = served_query(logs)

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    s = buf.getvalue()
    assert "TakeOrderedAndProject" in s
    assert "EqualTo(serviceName,falcon-mec)" in s  # pushed to the scan
    rows = q.collect()
    assert len(rows) > 0  # fixture filters leave real buckets


# -- jaccard standalone: posting-list cap bounds pair generation ----------------
def test_inverted_index_candidates_bounded_by_max_df(spark):
    """Pathological corpus: every doc shares one ubiquitous shingle; pairs
    must come only from rare shingles, not the O(n^2) hot posting list."""
    import pandas as pd

    from logflow_spark.operators.dedup import inverted_index_candidates, shingles_df

    n = 100
    texts = []
    for i in range(n):
        # one corpus-wide shingle ("common ngram here") + one shingle shared
        # with a single partner doc (i//2)
        texts.append(f"common ngram here pair{i // 2} pair{i // 2} pair{i // 2}")
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(n), "text": texts}))
    sh = shingles_df(df)
    unguarded = inverted_index_candidates(sh, max_df=None).count()
    guarded = inverted_index_candidates(sh, max_df=10).count()
    assert unguarded == n * (n - 1) // 2  # the quadratic blowup is real
    assert guarded == n // 2  # only the rare-shingle partner pairs survive


# -- extraction modes: udf / jvm are byte-identical ---------------------------
EDGE_HTMLS = [
    None,
    b"<html><head></head><body></body></html>",  # no title, no paras
    b"<html><head><title></title></head><body><p>x</p></body></html>",  # empty title
    b"<html><head><title>t</title></head><body></body></html>",  # title only
    b"<html><head><title>a\nb</title></head><body><p>c\nd</p><p>e</p></body></html>",
    b"<html><title>one</title><title>two</title><p>p</p></html>",  # first title wins
    "<html><title>ünicøde</title><p>☃</p></html>".encode("utf-8"),
]


def test_extraction_modes_byte_identical(spark):
    """Both extraction paths (pandas UDF / JVM expression) must equal the
    pure-Python oracle byte-for-byte — the north-rule per-row invariant,
    preserved across the perf paths."""
    import pandas as pd

    from logflow_spark.fixtures.pages import pages_spark_df
    from logflow_spark.functions.text import extract_text_py
    from logflow_spark.schema import PAGES_SCHEMA
    from logflow_spark.streaming.topology import TopologyConfig, parse_and_enrich

    # fixture pages (text nulled so extraction is load-bearing) + edge cases
    pages = pages_spark_df(spark, 300, n_hosts=10).withColumn(
        "text", F.lit(None).cast("string")
    )
    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://edge.example.com/{i}" for i in range(len(EDGE_HTMLS))],
                "warc_ts": pd.Timestamp("2024-01-01"),
                "html": pd.Series(EDGE_HTMLS, dtype="object"),
                "text": pd.Series([None] * len(EDGE_HTMLS), dtype="object"),
                "lang": "en",
            }
        ),
        schema=PAGES_SCHEMA,
    )
    both = pages.unionByName(edge)

    fixture_exp = {
        (r["url"], extract_text_py(r["html"])) for r in both.collect()
    }
    for mode in ("udf", "jvm"):
        cfg = TopologyConfig(extract_mode=mode)
        got = {
            (r["url"], r["text"])
            for r in parse_and_enrich(both, cfg).select("url", "text").collect()
        }
        assert got == fixture_exp, f"extract_mode={mode} diverges from oracle"
    with pytest.raises(ValueError):
        parse_and_enrich(both, TopologyConfig(extract_mode="arrow"))


def test_jvm_extraction_has_no_python_boundary(spark):
    from logflow_spark.fixtures.pages import pages_spark_df
    from logflow_spark.streaming.topology import TopologyConfig, parse_and_enrich

    import contextlib
    import io

    pages = pages_spark_df(spark, 50).withColumn("text", F.lit(None).cast("string"))
    out = parse_and_enrich(pages, TopologyConfig(extract_mode="jvm"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    s = buf.getvalue()
    assert "ArrowEvalPython" not in s and "MapInArrow" not in s and "BatchEvalPython" not in s


# -- stateful as-of join: output independent of Arrow chunking ----------------
def test_stateful_asof_join_chunk_independent(spark):
    """With tiny Arrow batches a group's micro-batch spans many chunks; the
    join must still equal the batch oracle (state folded over the WHOLE batch
    before the as-of lookup, not chunk-by-chunk)."""
    from logflow_spark.fixtures.enrichment import enrichment_pandas
    from logflow_spark.fixtures.merged_join import ensure_merged_join_fixture
    from logflow_spark.fixtures.pages import pages_spark_df
    from logflow_spark.operators.asof_join import asof_join_pages_enrichment
    from logflow_spark.operators.windows import with_host
    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.stateful_join import MERGED_SCHEMA, AsofEnrichJoin
    from logflow_spark.streaming.topology import drain_to_sink

    n_pages, n_hosts = 1500, 5  # ~300 rows/host/batch >> 50-row Arrow chunks
    merged_dir = ensure_merged_join_fixture(
        os.path.join(CACHE, f"merged_join_chunky_{n_pages}_{n_hosts}"),
        n_pages=n_pages,
        n_hosts=n_hosts,
        n_chunks=2,
    )
    ckpt = os.path.join(CACHE, "asof_chunky_ckpt")
    out_dir = os.path.join(CACHE, "asof_chunky_out")
    for p in (ckpt, out_dir):
        shutil.rmtree(p, ignore_errors=True)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        stream = replay_stream(spark, merged_dir, MERGED_SCHEMA, max_files_per_trigger=1)
        joined = AsofEnrichJoin.apply(stream, watermark="73 hours")
        sink = ExactlyOnceParquetSink(out_dir)
        drain_to_sink(joined, sink, ckpt)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {
        (r["url"], r["enrich_ts"], r["category"], r["score"])
        for r in sink.read(spark).collect()
    }
    pages = with_host(pages_spark_df(spark, n_pages, n_hosts=n_hosts))
    enr = spark.createDataFrame(enrichment_pandas(n_hosts))
    exp = {
        (r["url"], r["enrich_ts"], r["category"], r["score"])
        for r in asof_join_pages_enrichment(pages, enr).collect()
    }
    assert got == exp
