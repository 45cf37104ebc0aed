"""Built-in pipelines: the Spark re-expressions of the reference's three
pipeline classes (flink_kafka_to_parquet / flink_optimized_kafka_to_parquet /
kafka_to_parquet all collapse into ONE Structured Streaming topology — the
reference needed two engines because its Python path couldn't scale; Spark's
micro-batch engine IS the python-friendly path).

Pipelines follow the reference's protocol: ``build(**params)`` classmethod
taking string k=v params, instance ``run()``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from logflow_spark.pipeline.registry import register


def _is_eo_table(path: str) -> bool:
    c = os.path.join(path, "_commits")
    return os.path.isdir(c) and any(f.endswith(".json") for f in os.listdir(c))


def _read_corpus(spark, path: str):
    """Sink-aware input: an exactly-once table dir (has commit manifests)
    reads through its snapshot protocol; anything else is plain parquet.
    Lets corpus pipeline steps chain through exactly-once tables."""
    if _is_eo_table(path):
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

        return ExactlyOnceParquetSink(path).read(spark)
    return spark.read.parquet(path)


def _parse_bool(value, param: str) -> bool:
    """YAML delivers unquoted `true` as bool, quoted as str; accept both and
    raise on anything else (the sink_mode validation contract) instead of
    silently reading as false."""
    if isinstance(value, bool):
        return value
    s = str(value).strip().lower()
    if s in ("true", "1", "yes"):
        return True
    if s in ("false", "0", "no"):
        return False
    raise ValueError(f"{param} must be true|false, got {value!r}")


def _write_corpus(df, out_dir: str, sink_mode: str) -> dict:
    """sink_mode='parquet': plain overwrite. sink_mode='table': ONE
    exactly-once commit (batch 0) — a DAG retry of the step replays
    idempotently against the commit log instead of double-writing, and the
    returned lineage carries the manifest row counts."""
    if sink_mode == "table":
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

        sink = ExactlyOnceParquetSink(out_dir)
        sink.write_batch(df, 0)
        return {"sink": "exactly_once", "lineage": sink.metrics()}
    if sink_mode != "parquet":
        raise ValueError(f"sink_mode must be parquet|table, got {sink_mode!r}")
    df.write.mode("overwrite").parquet(out_dir)
    return {"sink": "parquet"}


@register("pages_stream_to_table")
@dataclass
class PagesStreamToTable:
    """source(replay|kafka) → extract → window-agg → exactly-once table.

    Params (all strings, reference-style k=v):
      input_dir      chunked-parquet replay directory (required)
      table_dir      sink table dir (required)
      window_kind    tumbling|sliding|session   (default tumbling)
      duration       e.g. '10 minutes'
      watermark      e.g. '30 minutes'
      available_now  'true' to drain and stop (default true)
      cores          local parallelism (default all)
    """

    input_dir: str
    table_dir: str
    window_kind: str = "tumbling"
    duration: str = "10 minutes"
    watermark: str = "30 minutes"
    available_now: str = "true"
    cores: str = ""

    @classmethod
    def build(cls, **params: str) -> "PagesStreamToTable":
        missing = {"input_dir", "table_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from logflow_spark.session import get_spark
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream
        from logflow_spark.streaming.topology import (
            TopologyConfig,
            run_streaming_to_sink,
        )

        master = f"local[{self.cores}]" if self.cores else None
        spark = get_spark(app_name="pages_stream_to_table", master=master)
        sink = ExactlyOnceParquetSink(os.path.join(self.table_dir, "table"))
        cfg = TopologyConfig(
            window_kind=self.window_kind,
            duration=self.duration,
            watermark=self.watermark,
        )
        stream = pages_replay_stream(spark, self.input_dir)
        q = run_streaming_to_sink(
            stream,
            cfg,
            sink,
            os.path.join(self.table_dir, "ckpt"),
            available_now=_parse_bool(self.available_now, "available_now"),
        )
        q.awaitTermination()
        return sink.metrics()


@register("pages_generate")
@dataclass
class PagesGenerate:
    """Deterministic pages fixture materialization (reference S3 analog)."""

    out_dir: str
    n_rows: str = "10000"
    n_chunks: str = "8"
    flush_row: str = "false"

    @classmethod
    def build(cls, **params: str) -> "PagesGenerate":
        if "out_dir" not in params:
            raise ValueError("missing required param: out_dir")
        return cls(**params)

    def run(self) -> str:
        from logflow_spark.fixtures.pages import ensure_pages_fixture

        return ensure_pages_fixture(
            self.out_dir,
            n_rows=int(self.n_rows),
            n_chunks=int(self.n_chunks),
            flush_row=_parse_bool(self.flush_row, "flush_row"),
        )


@register("funnel_generate")
@dataclass
class FunnelGenerate:
    """Deterministic clickstream fixture for the CEP pipelines (4d)."""

    out_dir: str
    n_rows: str = "4000"
    n_chunks: str = "4"
    n_users: str = "37"

    @classmethod
    def build(cls, **params: str) -> "FunnelGenerate":
        if "out_dir" not in params:
            raise ValueError("missing required param: out_dir")
        return cls(**params)

    def run(self) -> str:
        from logflow_spark.fixtures.funnel_events import (
            ensure_funnel_events_fixture,
        )

        return ensure_funnel_events_fixture(
            self.out_dir,
            n_rows=int(self.n_rows),
            n_chunks=int(self.n_chunks),
            n_users=int(self.n_users),
        )


@register("cep_detect")
@dataclass
class CepDetect:
    """Streaming CEP over a replay stream → exactly-once table.

    Params:
      input_dir   chunked-parquet replay dir (required):
                  clickstream (4d schema) for funnel/absence, pages for bursts
      table_dir   sink table dir (required)
      pattern     funnel | absence | bursts      (default absence)
      within      horizon, e.g. '30 minutes'
      watermark   allowed lateness, e.g. '10 minutes'
      n_events    burst threshold (bursts only, default 20)
      cores       local parallelism (default all)
    """

    input_dir: str
    table_dir: str
    pattern: str = "absence"
    within: str = "30 minutes"
    watermark: str = "10 minutes"
    n_events: str = "20"
    cores: str = ""

    @classmethod
    def build(cls, **params: str) -> "CepDetect":
        missing = {"input_dir", "table_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        if params.get("pattern", "absence") not in ("funnel", "absence", "bursts"):
            raise ValueError("pattern must be funnel | absence | bursts")
        return cls(**params)

    def run(self) -> dict:
        from logflow_spark.session import get_spark
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream, replay_stream
        from logflow_spark.streaming.topology import drain_to_sink

        master = f"local[{self.cores}]" if self.cores else None
        spark = get_spark(app_name=f"cep_{self.pattern}", master=master)
        sink = ExactlyOnceParquetSink(os.path.join(self.table_dir, "table"))
        if self.pattern == "bursts":
            from logflow_spark.operators.windows import with_host
            from logflow_spark.streaming.cep import detect_bursts

            stream = with_host(pages_replay_stream(spark, self.input_dir))
            out = detect_bursts(
                stream,
                n_events=int(self.n_events),
                window=self.within,
                watermark=self.watermark,
            )
        else:
            from logflow_spark.fixtures.funnel_events import events_spark_schema

            stream = replay_stream(spark, self.input_dir, events_spark_schema())
            if self.pattern == "funnel":
                from logflow_spark.streaming.sequence import detect_sequence

                out = detect_sequence(
                    stream, within=self.within, watermark=self.watermark
                )
            else:
                from logflow_spark.streaming.absence import detect_absence

                out = detect_absence(
                    stream, within=self.within, watermark=self.watermark
                )
        drain_to_sink(
            out, sink, os.path.join(self.table_dir, "ckpt"), timeout_s=None
        )
        return sink.metrics()


@register("table_compact")
@dataclass
class TableCompact:
    """Maintenance: compact an exactly-once table's small files + vacuum.

    Params:
      table_dir          the sink's table dir (required)
      target_file_bytes  compaction target (default 128 MiB)
      vacuum             'true' to reclaim superseded files (default true)
    """

    table_dir: str
    target_file_bytes: str = str(128 * 1024 * 1024)
    vacuum: str = "true"

    @classmethod
    def build(cls, **params: str) -> "TableCompact":
        if "table_dir" not in params:
            raise ValueError("missing required param: table_dir")
        return cls(**params)

    def run(self) -> dict:
        from logflow_spark.session import get_spark
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

        spark = get_spark(app_name="table_compact")
        sink = ExactlyOnceParquetSink(self.table_dir)
        stats = sink.compact(spark, target_file_bytes=int(self.target_file_bytes))
        if _parse_bool(self.vacuum, "vacuum"):
            stats["n_vacuumed"] = len(sink.vacuum())
        stats["total_rows_after"] = sink.metrics()["total_rows"]
        return stats


@register("table_read")
@dataclass
class TableRead:
    """Snapshot / time-travel read of an exactly-once table → parquet export.

    Params:
      table_dir   the sink's table dir (required)
      out_dir     where to write the exported snapshot (required)
      as_of       batch id to time-travel to (default: current snapshot)
    """

    table_dir: str
    out_dir: str
    as_of: str = ""

    @classmethod
    def build(cls, **params: str) -> "TableRead":
        missing = {"table_dir", "out_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from logflow_spark.session import get_spark
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

        spark = get_spark(app_name="table_read")
        # pages_stream_to_table nests its sink at <table_dir>/table; accept
        # either the sink dir itself or the pipeline's parent dir. Probe for
        # actual commit manifests (the sink ctor mkdirs an empty _commits).
        def _has_commits(d: str) -> bool:
            c = os.path.join(d, "_commits")
            return os.path.isdir(c) and any(
                f.endswith(".json") for f in os.listdir(c)
            )

        table_dir = self.table_dir
        nested = os.path.join(table_dir, "table")
        if not _has_commits(table_dir) and _has_commits(nested):
            table_dir = nested
        sink = ExactlyOnceParquetSink(table_dir)
        as_of = int(self.as_of) if self.as_of else None
        df = sink.read(spark, as_of=as_of)
        df.write.mode("overwrite").parquet(self.out_dir)
        return {
            "as_of": as_of,
            "n_rows": spark.read.parquet(self.out_dir).count(),
            "batches_visible": [
                m.get("batch_id", f"c{m.get('compaction_gen')}")
                for m in sink.visible_manifests(as_of)
            ],
        }


@register("corpus_curate")
@dataclass
class CorpusCurate:
    """Training-corpus curation: profile gate + dedup keep-list → parquet.

    Params:
      input_path      documents parquet (doc_id, text, ...) (required)
      output_dir      keep-list output dir (required)
      min_quality_e6  quality gate, scaled 1e6 (default 450000)
      min_tokens      token-count gate (default 20)
      langs           comma-separated language allowlist (default 'en')
      sample_pct      optional deterministic pre-sample percentage (0=off)
      emit            'keeplist' (default: id + signals) | 'docs' (kept
                      documents WITH text + signals, chainable downstream)
      sink_mode       'parquet' (default) | 'table' (exactly-once commit
                      with lineage; downstream steps read it transparently)
    """

    input_path: str
    output_dir: str
    min_quality_e6: str = "450000"
    min_tokens: str = "20"
    langs: str = "en"
    sample_pct: str = "0"
    emit: str = "keeplist"
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "CorpusCurate":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from logflow_spark.operators.curation import curate_corpus, hash_sample
        from logflow_spark.session import get_spark

        spark = get_spark(app_name="corpus_curate")
        docs = _read_corpus(spark, self.input_path)
        n_in = docs.count()
        if int(self.sample_pct) > 0:
            docs = hash_sample(docs, pct=int(self.sample_pct))
        kept = curate_corpus(
            docs,
            min_quality_e6=int(self.min_quality_e6),
            min_tokens=int(self.min_tokens),
            langs=tuple(s.strip() for s in self.langs.split(",") if s.strip()),
        )
        if self.emit == "docs":
            out = docs.select("doc_id", "text").join(kept, "doc_id")
        elif self.emit == "keeplist":
            out = kept
        else:
            raise ValueError(f"emit must be keeplist|docs, got {self.emit!r}")
        sink_info = _write_corpus(out, self.output_dir, self.sink_mode)
        n_out = _read_corpus(spark, self.output_dir).count()
        return {
            "n_in": n_in,
            "n_kept": n_out,
            "kept_frac": round(n_out / n_in, 4) if n_in else 0.0,
            **sink_info,
        }


@register("corpus_decontaminate")
@dataclass
class CorpusDecontaminate:
    """Benchmark decontamination: flag docs overlapping an eval set.

    Params:
      input_path   documents parquet (doc_id, text) (required)
      bench_path   eval-set parquet (eval_id, eval_text); empty = derive
                   deterministic snippets from the corpus itself
      output_dir   where to write the per-doc report (required)
      n            n-gram size (default 8)
      drop_contaminated  'true': write the SURVIVING documents (with text)
                   instead of the report — the chainable filter step
      sink_mode    'parquet' (default) | 'table' (exactly-once + lineage)
    """

    input_path: str
    output_dir: str
    bench_path: str = ""
    n: str = "8"
    drop_contaminated: str = "false"
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "CorpusDecontaminate":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from logflow_spark.operators.decontam import decontaminate, eval_snippets
        from logflow_spark.session import get_spark

        spark = get_spark(app_name="corpus_decontaminate")
        docs = _read_corpus(spark, self.input_path)
        bench = (
            spark.read.parquet(self.bench_path)
            if self.bench_path
            else eval_snippets(docs)
        )
        report = decontaminate(docs, bench, n=int(self.n))
        n_total = report.count()
        n_bad = report.filter("contaminated").count()
        if _parse_bool(self.drop_contaminated, "drop_contaminated"):
            out = docs.select("doc_id", "text").join(
                report.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
            )
        else:
            out = report
        sink_info = _write_corpus(out, self.output_dir, self.sink_mode)
        return {"n_docs": n_total, "n_contaminated": n_bad, **sink_info}


@register("pii_scrub")
@dataclass
class PiiScrub:
    """Redact emails / IPv4 / long digit runs → clean-text parquet.

    Params:
      input_path   documents parquet (doc_id, text) (required)
      output_dir   scrubbed output (required)
      sink_mode    'parquet' (default) | 'table' (exactly-once + lineage)
    """

    input_path: str
    output_dir: str
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "PiiScrub":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from logflow_spark.operators.scrub import pii_scrub
        from logflow_spark.session import get_spark

        spark = get_spark(app_name="pii_scrub")
        scrubbed = pii_scrub(_read_corpus(spark, self.input_path))
        sink_info = _write_corpus(scrubbed, self.output_dir, self.sink_mode)
        res = _read_corpus(spark, self.output_dir)
        counts = res.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_emails").alias("e"),
            F.sum("n_ipv4").alias("i"),
            F.sum("n_digit_runs").alias("d"),
        ).collect()[0]
        return {
            "n_docs": counts["n"],
            "n_emails": int(counts["e"] or 0),
            "n_ipv4": int(counts["i"] or 0),
            "n_digit_runs": int(counts["d"] or 0),
            **sink_info,
        }


@register("corpus_pack")
@dataclass
class CorpusPack:
    """Sequence packing: token offsets into seq_len training windows.

    Final stage of the LLM-data DAG (config/llm_pipeline.yaml): reads the
    scrubbed corpus and emits (shard, doc_id, n_tokens, start_off, end_off,
    chunk_first, chunk_last) — operators/packing.py:pack_sequences.

    Params:
      input_path   corpus parquet or exactly-once table (required)
      output_dir   packed output (required)
      text_col     which column holds the text (default 'text'; the
                   pii_scrub step emits 'clean_text')
      seq_len      training window length in tokens (default 512)
      n_shards     independent packing shards (default 8)
      sink_mode    'parquet' (default) | 'table' (exactly-once + lineage)
    """

    input_path: str
    output_dir: str
    text_col: str = "text"
    seq_len: str = "512"
    n_shards: str = "8"
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "CorpusPack":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from logflow_spark.operators.packing import pack_sequences
        from logflow_spark.session import get_spark

        spark = get_spark(app_name="corpus_pack")
        docs = _read_corpus(spark, self.input_path)
        packed = pack_sequences(
            docs,
            text_col=self.text_col,
            seq_len=int(self.seq_len),
            n_shards=int(self.n_shards),
        )
        sink_info = _write_corpus(packed, self.output_dir, self.sink_mode)
        res = _read_corpus(spark, self.output_dir)
        stats = res.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.max("chunk_last") + 1).alias("n_chunks_max_shard"),
        ).collect()[0]
        return {
            "n_docs": stats["n_docs"],
            "total_tokens": int(stats["total_tokens"] or 0),
            "seq_len": int(self.seq_len),
            **sink_info,
        }


@register("span_dedup")
@dataclass
class SpanDedup:
    """C4-style span-level dedup: drop corpus-wide repeated token spans,
    reassemble each document (operators/spandedup.py).

    Params:
      input_path   documents parquet or exactly-once table (required)
      output_dir   output (required)
      span_tokens  span width in tokens (default 10)
      min_dup      corpus-wide occurrence threshold (default 2)
      emit         'report' (default: id + kept/dropped counts + digest)
                   | 'docs' (doc_id + clean_text, chainable downstream)
      sink_mode    'parquet' (default) | 'table' (exactly-once + lineage)
    """

    input_path: str
    output_dir: str
    span_tokens: str = "10"
    min_dup: str = "2"
    emit: str = "report"
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "SpanDedup":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from logflow_spark.operators.spandedup import span_dedup
        from logflow_spark.session import get_spark

        if self.emit not in ("report", "docs"):
            raise ValueError(f"emit must be report|docs, got {self.emit!r}")
        spark = get_spark(app_name="span_dedup")
        docs = _read_corpus(spark, self.input_path)
        rep = span_dedup(
            docs,
            span_tokens=int(self.span_tokens),
            min_dup=int(self.min_dup),
            emit_text=(self.emit == "docs"),
        )
        if self.emit == "docs":
            out = rep.select("doc_id", F.col("clean_text").alias("text"))
        else:
            out = rep
        sink_info = _write_corpus(out, self.output_dir, self.sink_mode)
        stats = rep.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dropped").alias("spans_dropped"),
            F.sum("n_kept").alias("spans_kept"),
        ).collect()[0]
        return {
            "n_docs": stats["n_docs"],
            "spans_kept": int(stats["spans_kept"] or 0),
            "spans_dropped": int(stats["spans_dropped"] or 0),
            **sink_info,
        }


@register("incremental_dedup")
@dataclass
class IncrementalDedup:
    """Verdict a new ingest batch against the existing corpus
    (operators/incremental.py): exact-digest index + LSH band-bucket
    index + exact-Jaccard verify.

    Params:
      input_path   NEW batch parquet or exactly-once table (required)
      corpus_path  EXISTING corpus parquet or exactly-once table (required)
      output_dir   verdict output (required)
      where        optional SQL predicate on the batch side (e.g.
                   'doc_id >= 400' to carve a generation out of one
                   table; Catalyst pushes it into the scan)
      corpus_where optional SQL predicate on the corpus side
      threshold    near-dup Jaccard threshold (default 0.5)
      emit         'report' (default: doc_id, verdict, dup_of)
                   | 'docs' (only the genuinely-new docs WITH text —
                   what gets appended to the corpus)
      sink_mode    'parquet' (default) | 'table' (exactly-once + lineage)
    """

    input_path: str
    corpus_path: str
    output_dir: str
    where: str = ""
    corpus_where: str = ""
    threshold: str = "0.5"
    emit: str = "report"
    sink_mode: str = "parquet"

    @classmethod
    def build(cls, **params: str) -> "IncrementalDedup":
        missing = {"input_path", "corpus_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from logflow_spark.operators.incremental import incremental_dedup_frames
        from logflow_spark.session import get_spark

        if self.emit not in ("report", "docs"):
            raise ValueError(f"emit must be report|docs, got {self.emit!r}")
        spark = get_spark(app_name="incremental_dedup")
        batch = _read_corpus(spark, self.input_path)
        if self.where:
            batch = batch.filter(self.where)
        corpus = _read_corpus(spark, self.corpus_path)
        if self.corpus_where:
            corpus = corpus.filter(self.corpus_where)
        rep = incremental_dedup_frames(
            batch, corpus, threshold=float(self.threshold)
        )
        if self.emit == "docs":
            out = batch.select("doc_id", "text").join(
                rep.filter(F.col("verdict") == "new").select("doc_id"),
                "doc_id",
            )
        else:
            out = rep
        sink_info = _write_corpus(out, self.output_dir, self.sink_mode)
        counts = {
            r["verdict"]: r["n"]
            for r in rep.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return {
            "n_batch": sum(counts.values()),
            "n_new": counts.get("new", 0),
            "n_exact_dup": counts.get("exact_dup", 0),
            "n_near_dup": counts.get("near_dup", 0),
            **sink_info,
        }


@register("log_events_enrich")
@dataclass
class LogEventsEnrich:
    """Reference-parity batch enrichment: promote + flag + partitioned write."""

    input_path: str
    output_dir: str

    @classmethod
    def build(cls, **params: str) -> "LogEventsEnrich":
        missing = {"input_path", "output_dir"} - set(params)
        if missing:
            raise ValueError(f"missing required params: {sorted(missing)}")
        return cls(**params)

    def run(self) -> int:
        from logflow_spark.operators.log_enrich import promote_and_flag
        from logflow_spark.schema import LOG_EVENTS_SCHEMA
        from logflow_spark.session import get_spark

        spark = get_spark(app_name="log_events_enrich")
        df = spark.read.schema(LOG_EVENTS_SCHEMA).parquet(self.input_path)
        out = promote_and_flag(df)
        out.write.mode("overwrite").partitionBy("log_date", "log_hour").parquet(
            self.output_dir
        )
        return spark.read.parquet(self.output_dir).count()
