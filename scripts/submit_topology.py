#!/usr/bin/env python
"""spark-submit entry point for the flagship topology (north_rule submission
shape):

  spark-submit --master <cluster> \\
      --py-files dist/logflow_spark.zip \\
      scripts/submit_topology.py \\
      --input <pages dir> --table <table dir> \\
      [--window tumbling] [--watermark "30 minutes"] [--extract udf|jvm] \\
      [--drain]

Uses the ambient SparkSession (whatever --master/--conf the submitter chose)
— no local[] assumptions; the package arrives on executors via --py-files.
On the sandbox it is smoke-tested with `--master local[4] --drain`
(tests/test_submit_packaging.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--window", default="tumbling")
    ap.add_argument("--watermark", default="30 minutes")
    ap.add_argument("--extract", default="udf", choices=("udf", "jvm"))
    ap.add_argument("--drain", action="store_true", help="availableNow drain + stop")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # the session is built by spark-submit's conf; only runtime-settable
    # correctness confs are applied here
    spark = SparkSession.builder.appName("logflow_topology").getOrCreate()
    from logflow_spark.session import tune_for_runtime
    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.topology import TopologyConfig, run_streaming_to_sink

    tune_for_runtime(spark)
    import os

    sink = ExactlyOnceParquetSink(os.path.join(args.table, "table"))
    cfg = TopologyConfig(
        window_kind=args.window,
        watermark=args.watermark,
        extract_mode=args.extract,
    )
    stream = pages_replay_stream(spark, args.input)
    q = run_streaming_to_sink(
        stream,
        cfg,
        sink,
        os.path.join(args.table, "ckpt"),
        available_now=args.drain,
    )
    q.awaitTermination()
    print(json.dumps(sink.metrics()))


if __name__ == "__main__":
    main()
