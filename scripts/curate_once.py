#!/usr/bin/env python
"""Single streaming-CURATION drain in a fresh JVM (scaling measurement unit
for the second stateful topology: gate → dropDuplicatesWithinWatermark).

Usage: curate_once.py <cores> <fixture_dir> [scratch_dir]
Prints: RESULT cores=<n> seconds=<wall> data_seconds=<s> data_rows=<rows> kept=<rows>

Same protocol as drain_once.py: fixture staged on tmpfs, fresh JVM, the
steady-state metric is trigger time of the DATA micro-batches only.
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
from logflow_spark.streaming.curation_stream import streaming_curate
from logflow_spark.streaming.topology import drain_to_sink

cores = int(sys.argv[1])
fx = sys.argv[2]
scratch = sys.argv[3] if len(sys.argv) > 3 else "/dev/shm/logflow_bench"
os.makedirs(scratch, exist_ok=True)

staged = os.path.join(scratch, "fx_" + os.path.basename(os.path.normpath(fx)))
if not os.path.exists(os.path.join(staged, "_SUCCESS")):
    shutil.rmtree(staged, ignore_errors=True)
    shutil.copytree(fx, staged)
fx = staged

sp = int(os.environ.get("DRAIN_SP", cores))
spark = get_spark(
    master=f"local[{cores}]",
    shuffle_partitions=sp,
    app_name=f"curate{cores}",
    use_rocksdb_state=os.environ.get("DRAIN_STATE", "rocksdb") == "rocksdb",
    extra_conf={
        "spark.local.dir": os.path.join(scratch, "sl"),
        "spark.driver.memory": "12g",
        "spark.python.worker.reuse": "false",
    },
)
spark.read.schema(PAGES_SCHEMA).parquet(fx).count()  # warm cache, untimed

work = tempfile.mkdtemp(prefix=f"curate{cores}_", dir=scratch)
sink = ExactlyOnceParquetSink(os.path.join(work, "t"))
t0 = time.time()
mfpt = int(os.environ.get("DRAIN_MFPT", 64))
stream = pages_replay_stream(spark, fx, max_files_per_trigger=mfpt)
kept = streaming_curate(stream, watermark="73 hours")
q = drain_to_sink(kept, sink, os.path.join(work, "c"), timeout_s=None)
dt = time.time() - t0

import json as _json

data_ms = 0
data_rows = 0
for p in q.recentProgress:
    pj = _json.loads(p.json)
    if pj["numInputRows"] > 1:
        data_ms += pj["durationMs"]["triggerExecution"]
        data_rows += pj["numInputRows"]
n = sink.metrics()["total_rows"]
shutil.rmtree(work, ignore_errors=True)
print(
    f"RESULT cores={cores} seconds={round(dt, 3)} "
    f"data_seconds={round(data_ms / 1000, 3)} data_rows={data_rows} kept={n}"
)
