"""One-pass exactly-once sink commit and the streaming checkpoint manager.

``write_batch`` runs the data write as its only Spark job and fills the
manifest's lineage (``n_rows``, ``partition_counts``) from the footers of the
files it wrote; sessions carry the FileSystem-based checkpoint manager.
"""

from __future__ import annotations

import json

from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

from logflow_spark.session import CHECKPOINT_FILE_MANAGER, tune_for_runtime
from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink

CKPT_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _frame(spark, n=240):
    # strings that Spark escapes in Hive paths, nulls in both columns, and
    # booleans — every kind of partition value the manifest key must restore
    svals = ["a b", "x/y", "k:v", None]
    bvals = [True, False, None]
    rows = [(i, svals[i % 4], bvals[i % 3]) for i in range(n)]
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("s", StringType()),
            StructField("b", BooleanType()),
        ]
    )
    # one task, so every partition's 20 rows roll over inside one writer
    return spark.createDataFrame(rows, schema).coalesce(1)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_partitioned_one_pass_commit(spark, tmp_path):
    sc = spark.sparkContext
    df = _frame(spark)
    expected = {
        f"s={r['s']}/b={r['b']}": r["count"]
        for r in df.groupBy("s", "b").count().collect()
    }
    sink = ExactlyOnceParquetSink(
        str(tmp_path / "t"), partition_by=["s", "b"], max_records_per_file=7
    )

    n_persisted = _persistent_rdds(spark)
    group = "sink-one-pass"
    sc.setJobGroup(group, "write_batch")
    try:
        sink.write_batch(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _persistent_rdds(spark) == n_persisted

    (m,) = sink.manifests()
    assert m["partition_counts"] == expected
    assert m["n_rows"] == df.count() == sum(expected.values())
    # 12 partitions of 20 rows each roll over at 7 rows per file: 7 + 7 + 6
    assert len(expected) == 12 and m["n_files"] == len(m["files"]) == 36
    assert m["write_ms"] > 0 and m["commit_ms"] >= 0
    assert sink.metrics()["per_partition_rows"] == expected
    # the listed files hold exactly the counted rows
    got = sink.read(spark)
    assert got.count() == m["n_rows"]
    assert sorted(r["id"] for r in got.collect()) == list(range(240))
    # compaction rewrites the same partitions and counts them the same way
    sink.compact(spark)
    assert sink.metrics()["per_partition_rows"] == expected


def test_empty_string_partition_counts_as_null(spark, tmp_path):
    """Spark's writer puts "" and null in the same Hive default partition
    and both read back as null; the manifest counts them where readers
    see them."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), partition_by=["s"])
    df = spark.createDataFrame([(1, ""), (2, None), (3, "a")], "id long, s string")
    sink.write_batch(df, 0)
    (m,) = sink.manifests()
    assert m["partition_counts"] == {"s=None": 2, "s=a": 1}
    read_back = sink.read(spark).groupBy("s").count().collect()
    assert {f"s={r['s']}": r["count"] for r in read_back} == m["partition_counts"]


def test_manifests_without_timings_still_read(spark, tmp_path):
    """Readers, metrics() and compaction ignore the timing keys, and
    manifests written before they existed read as before."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), max_records_per_file=50)
    for b in range(2):
        sink.write_batch(spark.range(b * 100, (b + 1) * 100), b)
    path = sink._commit_path(0)
    with open(path) as f:
        m = json.load(f)
    assert {"write_ms", "commit_ms"} <= set(m)
    assert m["partition_counts"] == {"": 100} and m["n_rows"] == 100
    del m["write_ms"], m["commit_ms"]
    with open(path, "w") as f:
        json.dump(m, f)

    assert sink.metrics() == {
        "n_batches": 2,
        "total_rows": 200,
        "per_partition_rows": {"": 200},
    }
    assert sink.read(spark).count() == 200
    assert sink.compact(spark)["n_rows"] == 200
    assert sorted(r["id"] for r in sink.read(spark).collect()) == list(range(200))


def test_empty_batch_commits_zero_rows(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    sink.write_batch(spark.range(0), 0)
    (m,) = sink.manifests()
    assert m["n_rows"] == 0 and m["partition_counts"] == {"": 0}
    assert sink.read(spark).count() == 0


def _effective_manager(session) -> str:
    """Class of the checkpoint manager a streaming query of ``session``
    would open — resolved by the JVM from the session's Hadoop conf."""
    jvm = session.sparkContext._jvm
    ckpt = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path("file:///tmp")
    hadoop_conf = session._jsparkSession.sessionState().newHadoopConf()
    return ckpt.CheckpointFileManager.create(path, hadoop_conf).getClass().getName()


def test_sessions_use_filesystem_checkpoint_manager(spark):
    # get_spark sets it at build time
    assert spark.conf.get(CKPT_CONF) == CHECKPOINT_FILE_MANAGER
    assert _effective_manager(spark) == CHECKPOINT_FILE_MANAGER

    # a session we did not build: clear the inherited setting, then tune it
    bare = spark.newSession()
    bare.conf.unset(CKPT_CONF)
    assert bare.conf.get(CKPT_CONF, None) is None
    assert _effective_manager(bare) != CHECKPOINT_FILE_MANAGER
    tune_for_runtime(bare)
    assert bare.conf.get(CKPT_CONF) == CHECKPOINT_FILE_MANAGER
    assert _effective_manager(bare) == CHECKPOINT_FILE_MANAGER
    # tuning the new session left the shared one untouched
    assert spark.conf.get(CKPT_CONF) == CHECKPOINT_FILE_MANAGER
