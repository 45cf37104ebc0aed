#!/usr/bin/env python
"""Single streaming drain in a fresh JVM (the scaling-bench measurement unit).

Usage: drain_once.py <cores> <fixture_dir> [scratch_dir]
Prints: RESULT cores=<n> seconds=<wall> state_rows=<rows>
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logflow_spark.schema import PAGES_SCHEMA
from logflow_spark.session import get_spark
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
from logflow_spark.sources.replay import pages_replay_stream
from logflow_spark.streaming.topology import TopologyConfig, run_streaming_to_sink

cores = int(sys.argv[1])
fx = sys.argv[2]
scratch = sys.argv[3] if len(sys.argv) > 3 else "/dev/shm/logflow_bench"
os.makedirs(scratch, exist_ok=True)

# stage the fixture on tmpfs: the sandbox drops page cache aggressively and
# disk reads mid-run add tens of seconds of noise to the timed region
staged = os.path.join(scratch, "fx_" + os.path.basename(os.path.normpath(fx)))
if not os.path.exists(os.path.join(staged, "_SUCCESS")):
    shutil.rmtree(staged, ignore_errors=True)
    shutil.copytree(fx, staged)
fx = staged

# DRAIN_EXTRACT: udf (Arrow pandas UDF, default) | jvm (built-in-expression
# twin) — byte-identical per url
extract_mode = os.environ.get("DRAIN_EXTRACT", "udf")
cfg = TopologyConfig(
    window_kind="tumbling",
    watermark="73 hours",
    sum_text_chars=True,
    extract_mode=extract_mode,
)
# state/shuffle partitions fixed via DRAIN_SP (default: cores) so the
# keyed-state layout can be held constant across parallelism levels
sp = int(os.environ.get("DRAIN_SP", cores))
spark = get_spark(
    master=f"local[{cores}]",
    shuffle_partitions=sp,
    app_name=f"drain{cores}",
    use_rocksdb_state=os.environ.get("DRAIN_STATE", "rocksdb") == "rocksdb",
    extra_conf={
        "spark.local.dir": os.path.join(scratch, "sl"),
        "spark.driver.memory": "12g",
        # worker reuse ON anti-scales 4-8x above ~16 concurrent Python
        # workers in one local JVM (round-1 control); real clusters have
        # per-executor pools
        "spark.python.worker.reuse": os.environ.get("DRAIN_REUSE", "false"),
        # 5000 beats the 10000 default by ~20% and 50000 by ~40% on the
        # extraction drain (best-of-2 sweep at 16 cores, BENCH/BASELINE.md):
        # smaller batches pipeline JVM→Arrow transfer with worker compute
        # and keep per-worker peak memory cache-sized
        "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
            "DRAIN_ARROW_BATCH", "5000"
        ),
        # scan-split cap: Spark sizes file splits by totalBytes/parallelism,
        # so a 4-core drain of one big micro-batch gets ~5 fat splits and a
        # single-straggler tail (measured: ~16s of a 43s batch on 1 core);
        # a fixed small cap keeps scan tasks >> cores at every level
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "DRAIN_MPB", str(128 * 1024 * 1024)
        ),
    },
)
# warm page cache + JVM, untimed
spark.read.schema(PAGES_SCHEMA).parquet(fx).count()

work = tempfile.mkdtemp(prefix=f"drain{cores}_", dir=scratch)
sink = ExactlyOnceParquetSink(os.path.join(work, "t"))
t0 = time.time()
mfpt = int(os.environ.get("DRAIN_MFPT", 32))
q = run_streaming_to_sink(
    pages_replay_stream(spark, fx, max_files_per_trigger=mfpt),
    cfg,
    sink,
    os.path.join(work, "c"),
    available_now=True,
)
q.awaitTermination()
dt = time.time() - t0
n = sink.metrics()["total_rows"]
# steady-state metric: trigger time of the DATA batches only (excludes JVM
# startup and the end-of-stream state-flush tail) — the shared host throttles
# sustained load, so short-burst per-batch times are the comparable signal
import json as _json
data_ms = 0
data_rows = 0
for p in q.recentProgress:
    pj = _json.loads(p.json)
    if pj["numInputRows"] > 1:
        data_ms += pj["durationMs"]["triggerExecution"]
        data_rows += pj["numInputRows"]
if os.environ.get("DRAIN_VERBOSE"):
    # machine-readable per-batch decomposition: where does trigger time go
    # (planning / offset WAL / addBatch compute / state commit barrier)?
    for p in q.recentProgress:
        pj = _json.loads(p.json)
        so = pj.get("stateOperators", [])
        rec = {
            "batchId": pj["batchId"],
            "rows": pj["numInputRows"],
            "durationMs": pj["durationMs"],
            "stateCommitMs": [s_.get("commitTimeMs") for s_ in so],
        }
        print("BATCHPROF " + _json.dumps(rec), flush=True)
shutil.rmtree(work, ignore_errors=True)
print(f"RESULT cores={cores} extract={extract_mode} seconds={round(dt, 3)} data_seconds={round(data_ms/1000, 3)} data_rows={data_rows} state_rows={n}")
