"""One driver process of a benchmark run: the system under test plus the
harness code that must share its Spark session.

``run.py`` starts this as ``python3 perfbench/driver.py <spec.json>`` and
reads back ``spec["result"]``. The process builds a session with
``logflow_spark.session.get_spark``, runs one workload, records when its
first trigger (or first stage) started, checks every output against a
reference computation, and exits.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import ProgressListener, Spans, progress_layers, udf_profile_ms  # noqa: E402

from logflow_spark.fixtures.pages import FLUSH_LANG  # noqa: E402


# -- helpers ------------------------------------------------------------------------


def wait_first_trigger(q, spans: Spans | None) -> float:
    """Block until the query's first trigger has started; its wall time."""
    t_start = time.time()
    while True:
        st = q.status
        if st.get("isTriggerActive") or q.lastProgress is not None or not q.isActive:
            t = time.time()
            if spans is not None:
                spans.add("streaming.first_trigger", t_start, t)
            return t
        time.sleep(0.005)


class StageWatch(threading.Thread):
    """Polls for the first active stage of a batch job."""

    def __init__(self, sc) -> None:
        super().__init__(daemon=True)
        self.tracker = sc.statusTracker()
        self.at: float | None = None
        self.done = False

    def run(self) -> None:
        while not self.done and self.at is None:
            if self.tracker.getActiveStageIds():
                self.at = time.time()
                return
            time.sleep(0.002)


def sink_rows(sink) -> tuple[pd.DataFrame, dict]:
    """All committed rows of an ExactlyOnceParquetSink with their batch id,
    read outside Spark, and {batch_id: committed_at_unix}."""
    parts, commit = [], {}
    for m in sink.manifests():
        commit[m["batch_id"]] = m["committed_at_unix"]
        for f in m["files"]:
            t = pq.read_table(os.path.join(sink.table_dir, f["path"])).to_pandas()
            t["_batch"] = m["batch_id"]
            parts.append(t)
    df = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
    return df, commit


def diff_rows(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str], vals: list[str]) -> int:
    """Missing, extra or wrong rows of ``got`` against ``exp`` (keys unique
    in ``exp``; a duplicated key in ``got`` counts as wrong)."""
    if got.empty:
        return len(exp)
    g = got[keys + vals].copy()
    e = exp[keys + vals].copy()
    dup = int(g.duplicated(keys).sum())
    g = g.drop_duplicates(keys)
    m = e.merge(g, on=keys, how="outer", suffixes=("_e", "_g"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    wrong = 0
    if len(both):
        bad = np.zeros(len(both), dtype=bool)
        for v in vals:
            a, b = both[f"{v}_e"], both[f"{v}_g"]
            bad |= ~((a == b) | (a.isna() & b.isna())).to_numpy()
        wrong = int(bad.sum())
    return missing + extra + wrong + dup


def ts_us(s: pd.Series) -> pd.Series:
    """Timestamps as int64 UTC microseconds, whatever unit or zone pandas
    gives them (Spark's toPandas is naive in the session zone, UTC here;
    parquet read back by pyarrow is zone-aware)."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


class TimedSink:
    """foreachBatch wrapper of the traced run: materializes the batch first,
    so the span around ``write_batch`` holds the sink's own work."""

    def __init__(self, sink, spans: Spans) -> None:
        self.sink, self.spans = sink, spans

    def foreach_batch(self):
        def write(df, batch_id):
            df = df.persist()
            try:
                df.count()
                with self.spans.span("sinks.write_batch"):
                    self.sink.write_batch(df, batch_id)
            finally:
                df.unpersist()

        return write


# -- workloads ------------------------------------------------------------------------


class Workload:
    """One repetition = one complete query over the run's inputs."""

    streaming = True

    def __init__(self, spark, spec: dict, spans: Spans | None) -> None:
        self.spark, self.spec, self.spans = spark, spec, spans
        self.inputs = spec["inputs"]
        self.run_dir = spec["run_dir"]
        self._expected: pd.DataFrame | None = None

    def span(self, name: str):
        return self.spans.span(name) if self.spans is not None else contextlib.nullcontext()

    def rep_dirs(self, k: int) -> tuple[str, str]:
        d = os.path.join(self.run_dir, f"rep{k}")
        shutil.rmtree(d, ignore_errors=True)
        return os.path.join(d, "ck"), os.path.join(d, "table")


class ExtractDrain(Workload):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        self._refs: dict[str, pd.DataFrame] = {}  # per input: warm-up, measured

    def config(self, reference: bool = False):
        from pyspark.sql import functions as F

        from logflow_spark.streaming.topology import TopologyConfig

        return TopologyConfig(
            window_kind="tumbling",
            duration="10 minutes",
            watermark="2 hours",
            extract_mode="udf",
            extract_when_missing=not reference,
            extra_aggs=[F.bit_xor(F.xxhash64("url", "text")).alias("text_hash")],
        )

    def start(self, k: int, warm: bool = False):
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream
        from logflow_spark.streaming.topology import run_streaming_to_sink

        self.cur = self.spec["warm_inputs"] if warm else self.inputs
        ck, table = self.rep_dirs(k)
        self.sink = ExactlyOnceParquetSink(table)
        sink = TimedSink(self.sink, self.spans) if self.spans is not None else self.sink
        with self.span("sources.replay_stream"):
            src = pages_replay_stream(self.spark, self.cur, max_files_per_trigger=1)
        with self.span("streaming.start"):
            return run_streaming_to_sink(src, self.config(), sink, ck)

    def raw_pages(self) -> pd.DataFrame:
        return pq.read_table(self.cur).to_pandas()

    def expected(self) -> pd.DataFrame:
        """Windows of ``build_windowed_topology`` (batch) over the input with
        text from ``extract_text_py`` — the byte-identity reference."""
        if self.cur not in self._refs:
            from logflow_spark.functions.text import extract_text_py
            from logflow_spark.schema import PAGES_SCHEMA
            from logflow_spark.streaming.topology import build_windowed_topology

            pdf = self.raw_pages()
            pdf = pdf[pdf["lang"] != FLUSH_LANG].copy()
            pdf["text"] = [extract_text_py(h) for h in pdf["html"]]
            pdf["html"] = None
            df = self.spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
            out = build_windowed_topology(df, self.config(reference=True), streaming=False)
            e = out.toPandas()
            e["window_start"] = ts_us(e["window_start"])
            self._refs[self.cur] = e
        return self._refs[self.cur]

    keys = ["window_start", "lang", "host"]
    vals = ["cnt", "text_hash"]

    def check(self) -> tuple[int, int, pd.DataFrame, dict]:
        got, commit = sink_rows(self.sink)
        exp = self.expected()
        if not got.empty:
            got["window_start"] = ts_us(got["window_start"])
        return len(exp), diff_rows(got, exp, self.keys, self.vals), got, commit

    def kernel_ms(self) -> float:
        """The UDF's pandas body on this run's html, outside Spark."""
        from logflow_spark.functions.text import _extract_text_series

        html = self.raw_pages()["html"]
        html = html[html.notna()]
        t0 = time.perf_counter()
        _extract_text_series(html)
        return 1000.0 * (time.perf_counter() - t0)


class CurateBatch(Workload):
    streaming = False

    def docs(self):
        return self.spark.read.parquet(self.inputs + "/documents.parquet").select("doc_id", "text")

    def start(self, k: int):
        from logflow_spark.operators.curation import llm_pipeline_pack

        _ck, table = self.rep_dirs(k)
        self.out_dir = table
        with self.span("operators.llm_pipeline_pack"):
            out = llm_pipeline_pack(self.docs(), seq_len=512, n_shards=8)
            out.write.mode("overwrite").parquet(table)
        self.spark.catalog.clearCache()

    @staticmethod
    def sql_lsh_candidates() -> str:
        """DuckDB twin of ``dedup.lsh_candidate_pairs`` over the repo's
        minhash twin of ``documents``: pairs equal in every row of at least
        one band. ``llm_pipeline_pack`` verifies only these pairs, so a
        near-duplicate whose signature matches in no band is kept. A
        signature depends on its own document only, so candidates over the
        whole table, joined to pairs of gated documents, are the gated ones."""
        from __spark_entry__ import _sql_minhash

        from logflow_spark.operators.dedup import BAND_ROWS, N_BANDS

        band = " OR ".join(
            "(" + " AND ".join(f"a.mh_{b * BAND_ROWS + r} = b.mh_{b * BAND_ROWS + r}"
                               for r in range(BAND_ROWS)) + ")"
            for b in range(N_BANDS)
        )
        return f"""
WITH sigs AS MATERIALIZED ({_sql_minhash()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {band}
"""

    def expected(self) -> pd.DataFrame:
        """The repo's DuckDB SQL twin of the pipeline over the same table,
        with near-duplicate pairs drawn from the LSH candidates as the
        pipeline draws them (exact Jaccard alone would also catch the rare
        planted pair whose minhash bands all differ)."""
        if self._expected is None:
            import duckdb

            from __spark_entry__ import _sql_jaccard_base

            from logflow_spark.operators.decontam import sql_decontaminate
            from logflow_spark.operators.packing import sql_pack_sequences
            from logflow_spark.operators.scrub import sql_pii_scrub
            from logflow_spark.operators.textstats import sql_text_profile

            sql = f"""
WITH RECURSIVE profile AS MATERIALIZED ({sql_text_profile()}),
gated AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN profile p USING (doc_id)
  WHERE p.quality_e6 >= 450000 AND p.n_tokens >= 20 AND p.lang_pred IN ('en')
),
cand AS MATERIALIZED ({self.sql_lsh_candidates()}),
pairs AS (SELECT v.id_a, v.id_b FROM ({_sql_jaccard_base("gated")}) v JOIN cand USING (id_a, id_b)),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT src AS id, src AS lab FROM edges
  UNION
  SELECT r.id, e.dst AS lab FROM reach r JOIN edges e ON e.src = r.lab
),
comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
clusters AS (
  SELECT g.doc_id, g.doc_id = coalesce(c.cluster_id, g.doc_id) AS is_canonical
  FROM gated g LEFT JOIN comp c ON c.id = g.doc_id
),
surv AS MATERIALIZED (
  SELECT g.doc_id, g.text FROM gated g JOIN clusters c USING (doc_id)
  WHERE c.is_canonical
),
dec AS MATERIALIZED ({sql_decontaminate(table="surv")}),
ok AS MATERIALIZED (
  SELECT s.doc_id, s.text FROM surv s JOIN dec USING (doc_id)
  WHERE NOT dec.contaminated
),
scrubbed AS MATERIALIZED ({sql_pii_scrub(table="ok")}),
clean AS MATERIALIZED (SELECT doc_id, clean_text AS text FROM scrubbed)
SELECT * FROM ({sql_pack_sequences(table="clean", seq_len=512, n_shards=8)})
"""
            con = duckdb.connect()
            try:
                path = self.inputs + "/documents.parquet"
                con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{path}')")
                self._expected = con.execute(sql).df()
            finally:
                con.close()
        return self._expected

    cols = ["shard", "n_tokens", "start_off", "end_off", "chunk_first", "chunk_last"]

    def check(self):
        got = pq.read_table(self.out_dir).to_pandas()
        exp = self.expected()
        return len(exp), diff_rows(got, exp, ["doc_id"], self.cols), got, {}

    def stage_layers(self) -> dict:
        """Each public stage materialized on its own, inputs cached first,
        plus the LSH candidate precision of the near-dup stage."""
        from pyspark.sql import functions as F

        from logflow_spark.operators import dedup
        from logflow_spark.operators.curation import _curate_frames
        from logflow_spark.operators.decontam import decontaminate, eval_snippets
        from logflow_spark.operators.packing import pack_sequences
        from logflow_spark.operators.scrub import pii_scrub

        def timed(name: str, df):
            df = df.persist()
            t0 = time.perf_counter()
            with self.span(name):
                df.count()
            return df, 1000.0 * (time.perf_counter() - t0)

        docs, _ = timed("operators.load", self.docs())
        t0 = time.perf_counter()
        with self.span("operators.curate"):
            kept, gated = _curate_frames(docs)
            kept = kept.persist()
            kept.count()
        curate_ms = 1000.0 * (time.perf_counter() - t0)
        surv, _ = timed("operators.survivors", gated.join(kept.select("doc_id"), "doc_id"))
        flags, decontam_ms = timed(
            "operators.decontam", decontaminate(surv, eval_snippets(surv))
        )
        ok, _ = timed("operators.ok", surv.join(flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"))
        scrubbed, scrub_ms = timed("operators.scrub", pii_scrub(ok))
        _, pack_ms = timed("operators.pack", pack_sequences(scrubbed, "doc_id", "clean_text"))
        with self.span("operators.lsh"):
            sh = dedup.hashed_shingles_df(gated, "doc_id", "text", 3).persist()
            cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(gated, shingles=sh)).persist()
            n_cand = cand.count()
            n_true = dedup.jaccard_pairs(gated, candidates=cand, shingles=sh).count()
        self.spark.catalog.clearCache()
        return {
            "operators.curate_ms": curate_ms,
            "operators.decontam_ms": decontam_ms,
            "operators.scrub_ms": scrub_ms,
            "operators.pack_ms": pack_ms,
            "operators.lsh_candidates": float(n_cand),
            "operators.lsh_true_pairs": float(n_true),
            "operators.lsh_precision": n_true / n_cand if n_cand else 0.0,
        }


class WindowOpenloop(Workload):
    TRIGGER = "1 second"

    def config(self):
        from logflow_spark.streaming.topology import TopologyConfig

        return TopologyConfig(
            window_kind="sliding",
            duration="10 minutes",
            slide="5 minutes",
            watermark="1 minute",
            extract_when_missing=False,
        )

    def start(self, k: int):
        from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
        from logflow_spark.sources.replay import pages_replay_stream
        from logflow_spark.streaming.topology import build_windowed_topology

        ck, table = self.rep_dirs(k)
        self.sink = ExactlyOnceParquetSink(table)
        sink = TimedSink(self.sink, self.spans) if self.spans is not None else self.sink
        with self.span("sources.replay_stream"):
            # no per-trigger file cap: an open loop drains its whole backlog
            src = pages_replay_stream(self.spark, self.inputs, max_files_per_trigger=100_000)
        with self.span("streaming.start"):
            agg = build_windowed_topology(src, self.config(), streaming=True)
            return (
                agg.writeStream.outputMode("append")
                .option("checkpointLocation", ck)
                .foreachBatch(sink.foreach_batch())
                .trigger(processingTime=self.TRIGGER)
                .start()
            )

    def input_rows(self) -> pd.DataFrame:
        """Every input row with the due time of the file it came in."""
        with open(self.spec["gen_manifest"]) as f:
            man = json.load(f)
        due = {x["name"]: x["due"] for x in man["files"]}
        parts = []
        for name in sorted(os.listdir(self.inputs)):
            if name.endswith(".parquet") and not name.startswith("."):
                t = pq.read_table(os.path.join(self.inputs, name)).to_pandas()
                t["_due"] = due.get(name, man["t0"])
                parts.append(t)
        df = pd.concat(parts, ignore_index=True)
        k = df["url"].str.extract(r"^https://h(\d+)\.", expand=False).astype("float")
        df["_late"] = k >= gen.OPENLOOP["hosts"]
        return df[df["lang"] != FLUSH_LANG]

    def expected(self) -> pd.DataFrame:
        if self._expected is None:
            from logflow_spark.schema import PAGES_SCHEMA
            from logflow_spark.streaming.topology import build_windowed_topology

            rows = self.input_rows()
            on_time = rows[~rows["_late"]]
            df = self.spark.createDataFrame(on_time[[f.name for f in PAGES_SCHEMA.fields]],
                                            schema=PAGES_SCHEMA)
            e = build_windowed_topology(df, self.config(), streaming=False).toPandas()
            e["window_start"] = ts_us(e["window_start"])
            # creation stamp of the last event of each window row: each row
            # lands in the two 10m/5m windows that contain it
            slide = 5 * 60 * 1_000_000
            t = ts_us(on_time["warc_ts"]).to_numpy()
            w0 = t - t % slide
            stamps = pd.DataFrame(
                {
                    "window_start": np.concatenate([w0, w0 - slide]),
                    "lang": np.concatenate([on_time["lang"].to_numpy()] * 2),
                    "host": np.concatenate([on_time["url"].str.extract(
                        r"^https://([^/]+)", expand=False).to_numpy()] * 2),
                    "_due": np.concatenate([on_time["_due"].to_numpy()] * 2),
                }
            ).groupby(["window_start", "lang", "host"], as_index=False)["_due"].max()
            self._expected = e.merge(stamps, on=["window_start", "lang", "host"], how="left")
            self.n_late = int(rows["_late"].sum())
        return self._expected

    def check(self):
        got, commit = sink_rows(self.sink)
        exp = self.expected()
        if not got.empty:
            got["window_start"] = ts_us(got["window_start"])
        return len(exp), diff_rows(got, exp, ["window_start", "lang", "host"], ["cnt"]), got, commit


WORKLOADS = {
    "extract_drain": ExtractDrain,
    "window_openloop": WindowOpenloop,
    "curate_batch": CurateBatch,
}


# -- runs ---------------------------------------------------------------------------------


def touch(path: str) -> None:
    with open(path + ".tmp", "w") as f:
        f.write("1")
    os.rename(path + ".tmp", path)


def wait_file(path: str, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {os.path.basename(path)}")
        time.sleep(0.01)


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def run_rep(wl: Workload, k: int, warm: bool = False) -> dict:
    """One closed-loop repetition: start, wait for the complete committed
    result, check it."""
    t0 = time.time()
    if wl.streaming:
        q = wl.start(k, warm)
        first = wait_first_trigger(q, wl.spans)
        with wl.span("streaming.await"):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        run_id = str(q.runId)
        progress = progress_of(q)
    else:
        watch = StageWatch(wl.spark.sparkContext)
        watch.start()
        wl.start(k)
        watch.done = True
        first, run_id, progress = watch.at or time.time(), None, []
        if wl.spans is not None:
            wl.spans.add("streaming.first_trigger", t0, first)
    t1 = time.time()
    expected, errors, got, commit = wl.check()
    # per-row latency: from the moment the input was offered (query start)
    # to the commit of the row's batch; a batch job commits all at once
    if commit:
        lat = (got["_batch"].map(commit) - t0).to_numpy() * 1000.0
    else:
        lat = np.full(max(len(got), 1), (t1 - t0) * 1000.0)
    return {"t0": t0, "first": first, "wall": t1 - t0, "expected": expected,
            "errors": errors, "lat_ms": lat.tolist(), "run_id": run_id,
            "progress": progress}


WARM_DRAINS = 3


def closed_loop(wl: Workload, spec: dict, result: dict) -> None:
    """extract_drain: warm-up drains of a small input, then drains of the
    measured input for ``seconds``. curate_batch: its first job is the
    measurement, because a batch job pays JIT compilation and Python worker
    start-up on every run; later jobs serve only the trace."""
    docs = spec["docs"]
    streaming = wl.streaming
    spans, wl.spans = wl.spans, None
    first = run_rep(wl, 0, warm=streaming)
    result["first_trigger_at"] = first["first"]
    reps = [] if streaming else [first]
    checked = [first]
    if streaming:
        # the JIT keeps speeding the drain up over its first few runs
        for _ in range(WARM_DRAINS - 1):
            checked.append(run_rep(wl, len(checked), warm=True))
    t_end = time.time() + spec["seconds"]
    if streaming:
        # at least min_drains for a median; after that, start no drain that
        # would end past the measuring window
        while len(reps) < spec["min_drains"] or time.time() + reps[-1]["wall"] <= t_end:
            reps.append(run_rep(wl, len(checked)))
            checked.append(reps[-1])
    if spec["trace"]:
        if not streaming:
            # a warm untraced job: the base of the trace overhead
            reps = [run_rep(wl, len(checked))]
            checked.append(reps[-1])
        wl.spans = spans
        traced = traced_rep(wl, len(checked))
        checked.append(traced)
        result["layers"] = traced["layers"]
        result["layers"]["bench.trace_overhead"] = traced["wall"] / float(
            np.median([r["wall"] for r in reps]))
        result["base_reps"] = [{"docs_per_s": docs / r["wall"]} for r in reps]
        reps = [traced]
    result["reps"] = [
        {"wall": r["wall"], "docs_per_s": docs / r["wall"],
         "lat_p50_ms": float(np.percentile(r["lat_ms"], 50)),
         "lat_p99_ms": float(np.percentile(r["lat_ms"], 99))}
        for r in reps
    ]
    result["errors"] = sum(r["errors"] for r in checked)
    result["expected"] = sum(r["expected"] for r in checked)
    result["lat_ms"] = [x for r in reps for x in r["lat_ms"]]


def sink_layers(sink) -> dict:
    ms = sink.manifests()
    return {
        "sinks.rows": float(sum(m["n_rows"] for m in ms)),
        "sinks.files": float(sum(m["n_files"] for m in ms)),
        "sinks.bytes": float(sum(f["bytes"] for m in ms for f in m["files"])),
        "sinks.commits": float(len(ms)),
    }


def traced_rep(wl: Workload, k: int) -> dict:
    """The traced repetition: progress listener, UDF profiler and spans on;
    the event log has been on since the session started."""
    spark = wl.spark
    listener = ProgressListener()
    spark.streams.addListener(listener)
    spark._profiler_collector.clear_perf_profiles()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    if not wl.streaming:
        spark.sparkContext.setJobGroup("bench-traced", "traced repetition")
    try:
        r = run_rep(wl, k)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.streams.removeListener(listener)
    layers = {"streaming.first_trigger_ms": 1000.0 * (r["first"] - r["t0"]),
              "_job_groups": [r["run_id"] or "bench-traced"]}
    if wl.streaming:
        progress = listener.for_run(r["run_id"], len(r["progress"]))
        layers.update(progress_layers(progress, r["wall"]))
        layers.update(sink_layers(wl.sink))
        layers["sinks.write_batch_ms"] = wl.spans.total_ms("sinks.write_batch")
        layers["_progress"] = progress
    if isinstance(wl, ExtractDrain):
        layers["functions.udf_ms"] = udf_profile_ms(spark)
        with wl.span("functions.extract_kernel"):
            layers["functions.extract_kernel_ms"] = wl.kernel_ms()
    if isinstance(wl, CurateBatch):
        spark.sparkContext.setJobGroup("bench-stages", "stage by stage")
        layers.update(wl.stage_layers())
    r["layers"] = layers
    return r


def openloop(wl: WindowOpenloop, spec: dict, result: dict) -> None:
    """Primer protocol, then the generator's open loop, then the tail."""
    rd = spec["run_dir"]
    listener = None
    if spec["trace"]:
        listener = ProgressListener()
        wl.spark.streams.addListener(listener)
    t0 = time.time()
    q = wl.start(0)
    result["first_trigger_at"] = wait_first_trigger(q, wl.spans)

    def data_batches() -> int:
        return sum(1 for p in progress_of(q) if p["numInputRows"] > 0)

    def wait_batches(n: int, timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        while data_batches() < n:
            if not q.isActive or time.time() > deadline:
                raise RuntimeError(f"query did not commit {n} data batches: {q.exception()}")
            time.sleep(0.05)

    wait_batches(1, 120)
    touch(os.path.join(rd, "primed0"))
    wait_batches(2, 120)
    touch(os.path.join(rd, "ready"))
    wait_file(spec["gen_manifest"], spec["seconds"] + 60)
    with open(spec["gen_manifest"]) as f:
        man = json.load(f)
    if "error" in man:
        raise RuntimeError(man["error"])
    total = gen.PRIMER_FILES + sum(x["rows"] for x in man["files"])
    deadline = time.time() + 120
    while True:
        # the batch after the one that consumed the flush row runs at the
        # final watermark and emits every remaining window
        cum = np.cumsum([p["numInputRows"] for p in progress_of(q)])
        done = np.flatnonzero(cum >= total)
        if len(done) and len(cum) > done[0] + 1:
            break
        if not q.isActive or time.time() > deadline:
            raise RuntimeError(f"open loop did not drain: {q.exception()}")
        time.sleep(0.05)
    t_end = time.time()
    run_id = str(q.runId)
    q.stop()
    progress = progress_of(q)
    expected, errors, got, commit = wl.check()
    exp = wl.expected()
    lat = exp.merge(got[["window_start", "lang", "host", "_batch"]],
                    on=["window_start", "lang", "host"], how="inner")
    lat_ms = ((lat["_batch"].map(commit) - lat["_due"]) * 1000.0).to_numpy()
    dropped = sum(o.get("numRowsDroppedByWatermark", 0)
                  for p in progress for o in p.get("stateOperators", []))
    # each late row falls in two sliding windows and owns its host, so the
    # engine drops exactly two (window, host, lang) partial rows per row
    late_ok = dropped == 2 * wl.n_late
    result.update(
        docs=total - gen.PRIMER_FILES,
        expected=expected,
        errors=errors + (0 if late_ok else max(1, abs(dropped - 2 * wl.n_late))),
        lat_ms=lat_ms.tolist(),
        late_planted=wl.n_late,
        late_dropped=dropped,
        reps=[{"wall": t_end - man["t0"], "docs_per_s": (total - gen.PRIMER_FILES) / (t_end - man["t0"]),
               "lat_p50_ms": float(np.percentile(lat_ms, 50)),
               "lat_p99_ms": float(np.percentile(lat_ms, 99))}],
        gen_late_ms_p99=float(np.percentile([x["written"] - x["due"] for x in man["files"]], 99)) * 1000.0,
        busy_s=sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress) / 1000.0,
        backlog_files_max=max(
            [p["numInputRows"] // max(1, man["files"][0]["rows"]) for p in progress] or [0]
        ),
        wall_s=t_end - t0,
    )
    if listener is not None:
        progress = listener.for_run(run_id, len(progress))
        layers = progress_layers(progress, t_end - man["t0"])
        layers["_progress"] = progress
        layers["sinks.write_batch_ms"] = wl.spans.total_ms("sinks.write_batch")
        layers["streaming.first_trigger_ms"] = 1000.0 * (result["first_trigger_at"] - t0)
        layers["_job_groups"] = [run_id]
        layers.update(sink_layers(wl.sink))
        result["layers"] = layers


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    result: dict = {"ok": False}
    spans = Spans() if spec["trace"] else None
    try:
        from logflow_spark.session import get_spark

        # a fixed heap (-Xms = the -Xmx of spark.driver.memory) and young
        # generation: G1's adaptive sizing made peak_rss_mb vary by 30%
        # between identical runs; the fixed sizes cost no throughput in paired runs
        heap = os.environ["LOGFLOW_DRIVER_MEM"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(spec["run_dir"], "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData -Xms{heap} -Xmn512m",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if spec["trace"]:
            os.makedirs(spec["event_log"], exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": spec["event_log"],
                         "spark.eventLog.compress": "false"})
        t = time.time()
        spark = get_spark(app_name="perfbench", master=f"local[{spec['cores']}]", extra_conf=conf)
        result["session_ms"] = 1000.0 * (time.time() - t)
        if spans is not None:
            spans.add("session.get_spark", t, time.time())
        wl = WORKLOADS[spec["workload"]](spark, spec, spans)
        if spec["workload"] == "window_openloop":
            openloop(wl, spec, result)
        else:
            closed_loop(wl, spec, result)
        result["ok"] = True
    except Exception as e:  # the run's failure is reported, not raised
        import traceback

        result["error"] = f"{type(e).__name__}: {e}"
        result["traceback"] = traceback.format_exc()
    if spans is not None:
        spans.dump(os.path.join(spec["run_dir"], "spans.json"))
    with open(spec["result"] + ".tmp", "w") as f:
        json.dump(result, f)
    os.rename(spec["result"] + ".tmp", spec["result"])
    sys.stdout.flush()
    # skip the orderly shutdown: the JVM exits when this process closes its
    # end of the gateway pipe, and the parent waits for it
    os._exit(0)


if __name__ == "__main__":
    main()
