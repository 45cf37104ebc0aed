"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship windowed aggregation on sf0.001.
``queries()``   — one entry per implemented operator (SURVEY.md §2 + the
                  training-data-pipeline operators).
``oracle_sql()``— DuckDB ANSI-SQL twins. Column names and value encodings
                  (scaled-int floats, exact decimal sums) match the Spark
                  side so the driver's order-insensitive value-hash agrees.

Pages/north-rule queries run on this repo's deterministic `pages` fixture
(FIXTURES.md §1), materialized idempotently under .cache/ and referenced by
absolute read_parquet path in the oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(REPO, ".cache")

import sys  # noqa: E402

if REPO not in sys.path:
    sys.path.insert(0, REPO)

from logflow_spark.session import tune_for_runtime  # noqa: E402
from logflow_spark.operators.textstats import SQL_JAVA_WS  # noqa: E402

# ---------------------------------------------------------------------------
# fixture paths (pages/north-rule inputs this repo synthesizes itself)
# ---------------------------------------------------------------------------
PAGES_N, PAGES_HOSTS = 20_000, 1000
PAGES_DIR = os.path.join(CACHE, f"pages_entry_n{PAGES_N}")
PAGES_STREAM_DIR = os.path.join(CACHE, f"pages_entry_stream_n{PAGES_N}")
PAGES_SKEW_DIR = os.path.join(CACHE, f"pages_entry_skew_n{PAGES_N}")
ENRICH_HOSTS = 1000
ENRICH_DIR = os.path.join(CACHE, f"enrich_entry_h{ENRICH_HOSTS}")
LOG_EVENTS_N = 5000
LOG_EVENTS_PATH = os.path.join(CACHE, f"log_events_n{LOG_EVENTS_N}.parquet")
FUNNEL_N, FUNNEL_USERS = 4000, 37
FUNNEL_STREAM_DIR = os.path.join(CACHE, f"funnel_events_stream_n{FUNNEL_N}")
# materialized seeded hyperplanes — make the ANN-LSH bucketize SQL-expressible
HYPERPLANES_PATH = os.path.join(CACHE, "hyperplanes_t16_b4_d64_s42.parquet")
# materialized IVF codebook (seeded k-means, trained once on the sf0.01
# embedding sample) — makes the IVF assignment + probe SQL-expressible
IVF_CENTROIDS_PATH = os.path.join(CACHE, "ivf_centroids_k16_s42.parquet")
IVF_TRAIN_PARQUET = "/root/testdata/sf0.01/embeddings.parquet"


def _ensure_fixtures() -> None:
    from logflow_spark.fixtures.enrichment import ensure_enrichment_fixture
    from logflow_spark.fixtures.pages import ensure_pages_fixture

    ensure_pages_fixture(PAGES_DIR, n_rows=PAGES_N, n_chunks=4)
    ensure_pages_fixture(
        PAGES_STREAM_DIR, n_rows=PAGES_N, n_chunks=4, flush_row=True
    )
    ensure_pages_fixture(
        PAGES_SKEW_DIR, n_rows=PAGES_N, n_chunks=4, n_hosts=100, skew_frac=0.5
    )
    ensure_enrichment_fixture(ENRICH_DIR, n_hosts=ENRICH_HOSTS, n_chunks=2)
    _ensure_log_events()
    from logflow_spark.fixtures.funnel_events import ensure_funnel_events_fixture

    ensure_funnel_events_fixture(
        FUNNEL_STREAM_DIR, n_rows=FUNNEL_N, n_chunks=4, n_users=FUNNEL_USERS
    )
    from logflow_spark.fixtures.hyperplanes import ensure_hyperplanes_fixture

    ensure_hyperplanes_fixture(
        HYPERPLANES_PATH, dim=64, n_bits=4, n_tables=16, seed=42
    )
    from logflow_spark.fixtures.ivf_centroids import ensure_ivf_centroids

    ensure_ivf_centroids(IVF_CENTROIDS_PATH, IVF_TRAIN_PARQUET, k=16, seed=42)


def _ensure_log_events() -> None:
    if os.path.exists(LOG_EVENTS_PATH):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow_spark.fixtures.log_events import log_event

    rows = [log_event(i) for i in range(LOG_EVENTS_N)]
    schema = pa.schema(
        [
            pa.field("timestamp", pa.string()),
            pa.field("serviceName", pa.string()),
            pa.field("severityText", pa.string()),
            pa.field("attributes", pa.map_(pa.string(), pa.string())),
            pa.field("resources", pa.map_(pa.string(), pa.string())),
            pa.field("body", pa.string()),
        ]
    )
    cols = {
        k: [r[k] for r in rows]
        for k in ("timestamp", "serviceName", "severityText", "body")
    }
    cols["attributes"] = [list(r["attributes"].items()) for r in rows]
    cols["resources"] = [list(r["resources"].items()) for r in rows]
    os.makedirs(CACHE, exist_ok=True)
    tmp = LOG_EVENTS_PATH + ".tmp"
    pq.write_table(pa.table(cols, schema=schema), tmp, compression="zstd")
    os.rename(tmp, LOG_EVENTS_PATH)


def _path_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
    return os.path.getsize(path)


def _scan_units(path: str) -> tuple[int, int]:
    """(total bytes, splittable units) for a parquet file/dir.

    A parquet scan cannot be split finer than its row groups, so the
    achievable scan parallelism is the row-group count summed over files —
    maxPartitionBytes alone cannot help a one-row-group file (measured: the
    conf-only version of this fix moved nothing)."""
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, _, names in os.walk(path):
            files += [
                os.path.join(root, f)
                for f in names
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
    else:
        files = [path]
    total = sum(os.path.getsize(f) for f in files)
    units = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    return total, units


def _tune_scan_split(spark: SparkSession, path: str) -> int:
    """Scale-adaptive scan splits (guide §6): size maxPartitionBytes from
    the actual input so scan tasks ≈ 3x cores instead of a constant.
    On a real cluster any table big enough to matter hits the 128 MB cap
    (exactly Spark's default), so this only ever ADDS parallelism for
    inputs small relative to the core count. Returns the splittable-unit
    count so the caller can handle the unsplittable case."""
    total, units = _scan_units(path)
    par = max(1, spark.sparkContext.defaultParallelism)
    mpb = min(max(total // (3 * par), 256 * 1024), 128 * 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
    return units


# tables whose per-row map cost is dominated by heavyweight text
# expressions (tokenize / shingle / gram / vote / profile chains): for
# these, restoring full map width pays for an exchange many times over.
# Cheap-scan relational tables are EXCLUDED — measured at sf0.1, adding
# the exchange to the sub-second events/orders aggregates cost more than
# the width recovered (tumbling 0.50s -> 1.17s), while the documents
# family gained 2-4x.
_WIDE_SCAN_TABLES = frozenset({"documents"})


def _t(spark: SparkSession, sf_dir: str, name: str, wide: bool = True) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        units = _tune_scan_split(spark, path)
        total = _path_bytes(path)
    except OSError:
        return df
    par = max(1, spark.sparkContext.defaultParallelism)
    if wide and name in _WIDE_SCAN_TABLES and units < par and total >= 1 << 20:
        # guide §2.5 unsplittable-input case: the driver tables are written
        # as ONE parquet row group, so the scan is pinned to `units` tasks
        # no matter the split size and every map-heavy text operator ran on
        # 1-2 of the cores. One round-robin exchange of the raw rows (a few
        # MB; the text column moves once) buys full-width downstream map
        # stages. At production layouts (many files / row groups) units >=
        # cores and this branch never fires; sub-MB tables skip it — an
        # exchange would cost more than it recovers.
        df = df.repartition(3 * par)
    return df


def _pages(spark: SparkSession) -> DataFrame:
    from logflow_spark.schema import PAGES_SCHEMA

    _ensure_fixtures()
    return spark.read.schema(PAGES_SCHEMA).parquet(PAGES_DIR)


# ---------------------------------------------------------------------------
# entry — flagship smoke query
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 10-minute tumbling count per event_type on sf0.001 events."""
    tune_for_runtime(spark)
    from logflow_spark.operators.windows import tumbling_counts

    ev = _t(spark, "/root/testdata/sf0.001", "events")
    return tumbling_counts(ev, ts_col="ts", keys=("event_type",))


# ---------------------------------------------------------------------------
# queries — Spark implementations
# ---------------------------------------------------------------------------
def _q_tumbling(spark, sf):
    from logflow_spark.operators.windows import tumbling_counts

    return tumbling_counts(_t(spark, sf, "events"), ts_col="ts", keys=("event_type",))


def _q_sliding(spark, sf):
    from logflow_spark.operators.windows import sliding_counts

    return sliding_counts(
        _t(spark, sf, "events"), ts_col="ts", duration="10 minutes",
        slide="5 minutes", keys=("event_type",),
    )


def _q_session(spark, sf):
    from logflow_spark.operators.windows import session_counts

    return session_counts(
        _t(spark, sf, "events"), ts_col="ts", gap="30 minutes", keys=("user_id",)
    )


def _q_hot_key_promotion(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def _q_event_flags(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.when(F.get_json_object("props", "$").isNotNull(), 1)
        .otherwise(0).cast("long").alias("is_valid_json"),
        F.when(F.get_json_object("props", "$.k").isNotNull(), 1)
        .otherwise(0).cast("long").alias("has_k"),
        F.when(F.col("event_type") == "error", 1).otherwise(0)
        .cast("long").alias("is_error"),
        F.when(F.col("value") > 50.0, 1).otherwise(0)
        .cast("long").alias("is_high_value"),
    )


def _q_time_partition_cols(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("log_date"),
            F.hour("ts").cast("long").alias("log_hour"),
        )
        .groupBy("log_date", "log_hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_topk_buckets(spark, sf):
    from logflow_spark.operators.windows import top_k_windows, tumbling_counts

    agg = tumbling_counts(_t(spark, sf, "events"), ts_col="ts", keys=())
    return top_k_windows(agg, k=100)


def _q_filtered_time_range(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        & (F.col("event_type") == "error")
        & (F.get_json_object("props", "$.k").cast("long") > 50)
    ).select("event_id", "user_id", F.get_json_object("props", "$.k").cast("long").alias("k_val"))


def _q_distinct_users_by_type(spark, sf):
    """Distinct aggregation (absent in the reference — delegated to Flink;
    here: two-phase distinct-agg chosen by Catalyst)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _q_salted_group_counts(spark, sf):
    from logflow_spark.operators.skew import salted_counts

    ev = _t(spark, sf, "events")
    return salted_counts(ev, ["user_id"], n_salts=16, salt_source="event_id")


def _q_sum_value_by_type(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    disc_price = price * (F.lit(1).cast("decimal(8,4)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(8,4)") + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            # charge carries scale 10 → its sum exceeds double's exact 53-bit
            # range; emit floor(sum*100) as bigint (tie-free, engine-portable)
            F.floor(F.sum(charge) * 100).cast("long").alias("sum_charge_e2"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_broadcast_join_revenue(spark, sf):
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double").alias("revenue"),
        )
    )


def _q_multi_join_topn(spark, sf):
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.asc("n_name"))
        .limit(10)
    )


def _q_orders_window_rank(spark, sf):
    from pyspark.sql import Window

    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


def _q_union_event_sets(spark, sf):
    """Set ops (SURVEY §2.8): distinct union of two filtered event slices."""
    ev = _t(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id")
    high = ev.filter(F.col("value") > 90.0).select("event_id", "user_id")
    return errors.union(high).distinct()


def _q_except_intersect_customers(spark, sf):
    """INTERSECT and EXCEPT over order-activity cohorts, tagged and unioned."""
    orders = _t(spark, sf, "orders")
    y95 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_custkey")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_custkey")
    both = y95.intersect(y96).withColumn("cohort", F.lit("both"))
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep a key that
    # appears more often in y95 than y96, which EXCEPT must drop
    only95 = y95.subtract(y96).withColumn("cohort", F.lit("only95"))
    return both.unionByName(only95)


def _q_rollup_event_counts(spark, sf):
    """GROUP BY ROLLUP hierarchy (event_type → day subtotals + grand total)."""
    from logflow_spark.operators.relational import rollup_counts

    ev = _t(spark, sf, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"), "value"
    )
    return rollup_counts(ev, ("event_type", "d"), agg_col="value")


def _big_orders(spark, sf):
    # the synthetic data has full referential coverage (every customer has
    # orders), so the cohort is defined by a value predicate to be non-trivial
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )


def _q_customers_without_orders(spark, sf):
    """LEFT ANTI (NOT EXISTS): customers with no high-value order."""
    from logflow_spark.operators.relational import anti_join_keys

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    return anti_join_keys(cust, _big_orders(spark, sf), "custkey")


def _q_funnel_view_purchase(spark, sf):
    """CEP sequence pattern (batch twin): view → purchase within 30 min."""
    from logflow_spark.operators.relational import funnel_pairs

    return funnel_pairs(_t(spark, sf, "events"))


def _q_funnel_abandonment(spark, sf):
    """CEP absence pattern (batch twin): views NOT followed by a purchase
    within 30 min — same single-pass forward frame as the funnel."""
    from logflow_spark.operators.relational import funnel_absence

    return funnel_absence(_t(spark, sf, "events"))


def _q_customers_with_orders_semi(spark, sf):
    """LEFT SEMI (EXISTS): customers with ≥1 high-value order — key-set
    broadcast, right side never materialized into the output."""
    from logflow_spark.operators.relational import semi_join_keys

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return semi_join_keys(cust, _big_orders(spark, sf), "custkey")


def _q_event_value_quantiles(spark, sf):
    """Exact discrete p50/p95/p99 per event_type (quantile_disc semantics)."""
    from logflow_spark.operators.relational import disc_quantiles

    ev = _t(spark, sf, "events")
    return disc_quantiles(ev, "value", (0.5, 0.95, 0.99), keys=("event_type",))


# Drain cadence for the correctness gate: max_files_per_trigger=8 puts all
# data chunks (4) plus the flush sentinel in ONE micro-batch (a trailing
# no-data batch advances the watermark). Every drained query's output
# columns are pure functions of the event multiset — windows close on event
# time, CEP operators are arrival-order independent (property-tested), and
# dedup outputs are per-text functions — so batching never changes the
# result set, while per-batch fixed costs (state-store open/commit, WAL,
# planning) drop ~2.5x vs the old 3-batch cadence (measured sweep: absence
# drain 4.8s at mfpt=2 → 2.1s at mfpt=8, identical rows). Multi-batch
# cadences stay covered by the pytest drains (mfpt=1) and crash-resume tests.
def _drain(df: DataFrame, prefix: str, *, max_partition_bytes: int | None = None):
    """Drain a streaming frame into a fresh exactly-once sink under .cache/
    with 8 state partitions (see drain_to_sink) and return the sink; callers
    read only its committed snapshot (``sink.read``)."""
    import tempfile

    from logflow_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logflow_spark.streaming.topology import drain_to_sink

    work = tempfile.mkdtemp(prefix=prefix, dir=CACHE)
    sink = ExactlyOnceParquetSink(os.path.join(work, "table"))
    drain_to_sink(
        df,
        sink,
        os.path.join(work, "ckpt"),
        state_partitions=8,
        max_partition_bytes=max_partition_bytes,
    )
    return sink


def _q_pages_stream_dedup(spark, sf):
    """Streaming exact dedup at ingest: digest map-side →
    dropDuplicatesWithinWatermark (bounded keyed state) → exactly-once sink."""
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.stream_dedup import streaming_distinct_digests

    _ensure_fixtures()
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    deduped = streaming_distinct_digests(stream, watermark="73 hours")
    return _drain(deduped, "stream_dedup_").read(spark)


def _q_pages_stream_curate(spark, sf):
    """Streaming corpus curation at ingest: map-side profile → quality gate
    → first-wins digest dedup (bounded state) → exactly-once sink."""
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.curation_stream import streaming_curate

    _ensure_fixtures()
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    kept = streaming_curate(stream, watermark="73 hours")
    return _drain(kept, "stream_curate_").read(spark)


def _q_text_profile(spark, sf):
    from logflow_spark.operators.textstats import text_profile

    return text_profile(_t(spark, sf, "documents"))


def _q_repetition_profile(spark, sf):
    from logflow_spark.operators.textstats import repetition_profile

    return repetition_profile(_t(spark, sf, "documents"))


def _q_exact_dedup(spark, sf):
    from logflow_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents", wide=False))


def _q_jaccard_pairs(spark, sf):
    from logflow_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf, "documents"), threshold=0.5)


def _q_minhash_signatures(spark, sf):
    from logflow_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf, "documents"))


def _q_minhash_dedup_pairs(spark, sf):
    from logflow_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_t(spark, sf, "documents"), threshold=0.5)


def _q_minhash_dedup_clusters(spark, sf):
    from logflow_spark.operators.dedup import minhash_dedup_clusters

    return minhash_dedup_clusters(_t(spark, sf, "documents"), threshold=0.5)


def _q_corpus_curation(spark, sf):
    """End-to-end curation: profile gate + minhash dedup keep-list."""
    from logflow_spark.operators.curation import curate_corpus

    return curate_corpus(_t(spark, sf, "documents"))


def _q_hash_sample_10pct(spark, sf):
    """Deterministic 10% corpus sample (partition-layout independent)."""
    from logflow_spark.operators.curation import hash_sample

    return hash_sample(_t(spark, sf, "documents", wide=False), pct=10)


# domain-mixing recipe shared by the Spark query and its DuckDB twin
MIX_RATES = {"src1": 80, "src2": 50, "src3": 20}


def _q_stratified_sample_mix(spark, sf):
    """Domain mixing: per-source deterministic keep rates (80/50/20, rest 5)."""
    from logflow_spark.operators.curation import stratified_hash_sample

    return stratified_hash_sample(
        _t(spark, sf, "documents", wide=False), rates=MIX_RATES, default_pct=5
    )


def _q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing: 512-token windows, 8 shards."""
    from logflow_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), seq_len=512, n_shards=8)


def _q_url_canonicalize(spark, sf):
    """Crawl-dedup URL canonicalization (operators/urlnorm.py): noisy URL
    variants derived deterministically from doc_id (host case, default
    port, tracking params, unsorted query, fragment, trailing slash) →
    canonical form, all JVM expressions with an exact DuckDB twin."""
    from logflow_spark.operators.urlnorm import canonicalize_urls

    docs = _t(spark, sf, "documents")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=news&b=2&a=1&fbclid=xyz"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return canonicalize_urls(noisy).select("doc_id", "url", "canonical_url")


def _q_token_commonness(spark, sf):
    """Unigram corpus-frequency commonness + rare-token fraction — the
    integer-exact proxy for LM-perplexity quality filtering (see
    operators/lm.py for why true log-prob can't be exactly cross-engine)."""
    from logflow_spark.operators.lm import token_commonness

    return token_commonness(_t(spark, sf, "documents", wide=False))


def _q_pack_sequences_ffd(spark, sf):
    """First-fit-decreasing whole-document packing (grouped-map Arrow UDF).
    The greedy scan is sequential per shard, but since round 4 a DuckDB
    recursive CTE REPLAYS it exactly (packing.sql_pack_sequences_ffd), so
    this row is fully hash-compared — no longer the one `no_oracle` entry.
    tests/test_packing_ffd.py keeps the independent Python-replay gate."""
    from logflow_spark.operators.packing import pack_sequences_ffd

    # wide=False: the map side is one codegen'd split per row; the shard
    # grouped-map repartitions anyway, so the width exchange is pure cost
    # (sf0.1: 0.72s wide vs 0.50s history)
    return pack_sequences_ffd(
        _t(spark, sf, "documents", wide=False), seq_len=512, n_shards=8
    )


# one drain per (process, SF): docs_stream_neardup and its _verified twin
# both consume the SAME deterministic drained pair table; re-draining for
# the second query would double the most expensive fixed cost in the gate.
# Maps SF label -> the drain's exactly-once sink (parquet on disk, so a
# later clearCache() can't invalidate it).
_NEARDUP_DRAINS: dict = {}


def _drain_neardup_pairs(spark, sf) -> DataFrame:
    """Run (once per process per SF) the streaming LSH near-dup drain over
    the docs replay fixture and return the committed candidate-pair table:
    per-row minhash signatures (map-side, value-identical to the batch
    operator) → 4x4 LSH band keys → applyInPandasWithState keyed by bucket
    with horizon-bounded member state → pairs (id_a, id_b, n_equal) emitted
    as the second member arrives. With the 73h horizon covering the 72h
    ingest span the distinct pair set equals the batch banded-join SQL over
    `documents` exactly (timestamps cancel out), so oracles need no fixture
    file."""
    from logflow_spark.fixtures.docs_stream import ensure_docs_stream_fixture
    from logflow_spark.schema import DOCS_STREAM_SCHEMA
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.neardup_stream import streaming_lsh_neardup

    label = os.path.basename(os.path.normpath(sf))
    if label not in _NEARDUP_DRAINS:
        fx = os.path.join(CACHE, f"docs_stream_{label}")
        ensure_docs_stream_fixture(
            fx, os.path.join(sf, "documents.parquet"), n_chunks=32
        )
        stream = replay_stream(
            spark, fx, DOCS_STREAM_SCHEMA, max_files_per_trigger=64
        )
        pairs = streaming_lsh_neardup(
            stream, id_col="doc_id", ts_col="ingest_ts",
            horizon="73 hours", watermark="73 hours",
        )
        _NEARDUP_DRAINS[label] = _drain(
            pairs, "stream_neardup_", max_partition_bytes=1 << 20
        )
    # read through the sink so only manifest-committed files are read
    return _NEARDUP_DRAINS[label].read(spark)


def _q_docs_stream_neardup(spark, sf):
    """Streaming NEAR-dup candidates at ingest (round 4) — see
    _drain_neardup_pairs for the topology. A pair surfaces once per shared
    bucket; distinct is the contract."""
    return _drain_neardup_pairs(spark, sf).distinct()


def _q_docs_stream_neardup_verified(spark, sf):
    """Streamed candidates → exact verify (new round 5, VERDICT r4 task #3):
    the ingest-time operator emits LSH *candidates* (n_equal is a minhash
    Jaccard estimate); production dedup follows candidates with an exact
    shingle-Jaccard verify, exactly as the batch path does
    (operators/dedup.py:274 minhash_dedup_pairs — reference shape
    /root/reference/pipeline/*). This query composes the two: drain the
    stream (shared with docs_stream_neardup — one drain per process per
    SF), then jaccard_pairs(documents, candidates=drained) verifies ONLY
    the streamed pairs against the batch corpus. Because stream bands are
    4 rows wide vs the batch 8x2, the streamed candidate set is a strict
    SUBSET of the batch candidates (a matching 4-row band implies both its
    2-row halves match), so the verified output is the batch pair set
    restricted to stream-detected candidates — which the oracle states
    directly as exact-jaccard ∩ 4x4-band-match."""
    from logflow_spark.operators.dedup import jaccard_pairs

    cand = _drain_neardup_pairs(spark, sf).select("id_a", "id_b").distinct()
    docs = _t(spark, sf, "documents")
    return jaccard_pairs(docs, candidates=cand, threshold=0.5)


def _q_span_dedup(spark, sf):
    """C4-style span-level dedup (new round 5): drop every 10-token span
    occurring >= 2 times corpus-wide, reassemble the survivors per doc.
    The repeated-boilerplate pass doc-level dedup can't express — see
    operators/spandedup.py for the count-on-digest scale shape."""
    from logflow_spark.operators.spandedup import span_dedup

    return span_dedup(_t(spark, sf, "documents"), span_tokens=10, min_dup=2)


def _q_incremental_dedup(spark, sf):
    """Incremental dedup (new round 5): verdict a ~10% id-hash batch
    against the remaining 90% corpus — exact digest index join + LSH
    band-bucket index join + exact-Jaccard verify on the candidates only
    (operators/incremental.py; the join-shape of a daily-ingest dedup
    against an accumulated 100 TB corpus)."""
    from logflow_spark.operators.incremental import incremental_dedup

    return incremental_dedup(_t(spark, sf, "documents"))


# decontam drain: committed sink table per (process, SF), like the
# near-dup drain above
_DECONTAM_DRAINS: dict = {}


def _drain_decontam(spark, sf) -> DataFrame:
    """Run (once per process per SF) the streaming decontamination drain
    over the docs replay fixture: per-row gram-hash arrays → stream-static
    broadcast join vs the eval set → watermarked window+doc aggregation
    (streaming/decontam_stream.py). The eval-gram side is the SAME
    deterministic snippet set the batch decontaminate_8gram query uses, so
    with every fixture doc processed exactly once the drained report equals
    the batch SQL over `documents` (the far-future flush sentinel's own
    window never closes, so it is absent from the sink by construction)."""
    from logflow_spark.fixtures.docs_stream import ensure_docs_stream_fixture
    from logflow_spark.operators.decontam import _gram_hashes, eval_snippets
    from logflow_spark.schema import DOCS_STREAM_SCHEMA
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.decontam_stream import streaming_decontaminate

    label = os.path.basename(os.path.normpath(sf))
    if label not in _DECONTAM_DRAINS:
        fx = os.path.join(CACHE, f"docs_stream_{label}")
        ensure_docs_stream_fixture(
            fx, os.path.join(sf, "documents.parquet"), n_chunks=32
        )
        bench = _gram_hashes(
            eval_snippets(_t(spark, sf, "documents")), "eval_id", "eval_text", 8
        ).select("gh").distinct()
        stream = replay_stream(
            spark, fx, DOCS_STREAM_SCHEMA, max_files_per_trigger=64
        )
        report = streaming_decontaminate(
            stream, bench, watermark="1 hour", window="1 hour"
        )
        _DECONTAM_DRAINS[label] = _drain(
            report, "stream_decontam_", max_partition_bytes=1 << 20
        )
    return _DECONTAM_DRAINS[label].read(spark)


def _q_docs_stream_decontam(spark, sf):
    """Streaming decontamination at ingest (new round 5) — see
    _drain_decontam. The lang='xx' filter is the house flush-sentinel
    guard (defense in depth; the sentinel can't reach the sink anyway)."""
    return (
        _drain_decontam(spark, sf)
        .filter(~F.col("lang").eqNullSafe("xx"))
        .select("doc_id", "n_hits", "contaminated")
    )


def _q_llm_pipeline_packed(spark, sf):
    """END-TO-END LLM training-data pipeline as ONE plan (new round 4):
    curate (quality/lang gate + minhash near-dup keep-list) → decontaminate
    (drop eval-overlap docs) → pii_scrub (the input is documents with the
    same deterministic doc_id-derived PII suffix as the standalone pii_scrub
    query — a crawl has PII everywhere) → pack_sequences into 512-token
    windows. Oracle: the SQL twins of all four stages composed as one
    recursive-CTE chain over the identically-planted table."""
    from logflow_spark.operators.curation import llm_pipeline_pack

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref "),
            (F.col("doc_id") * 1234567 + 10000000).cast("string"),
        ).alias("text"),
    )
    return llm_pipeline_pack(docs, seq_len=512, n_shards=8)


def _q_pii_scrub(spark, sf):
    """PII redaction over documents augmented with deterministic synthetic
    PII (the fixture corpus has no digits at all, so scrubbing the raw text
    would exercise nothing — both engines plant the same doc_id-derived
    email/IP/id suffix, then the operator must remove it)."""
    from logflow_spark.operators.scrub import pii_scrub

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref "),
            (F.col("doc_id") * 1234567 + 10000000).cast("string"),
        ).alias("text"),
    )
    return pii_scrub(docs)


def _q_decontaminate(spark, sf):
    """Benchmark decontamination: per-doc n-gram overlap vs a deterministic
    eval-snippet set (every 29th doc's first 30 tokens, 8-grams)."""
    from logflow_spark.operators.decontam import decontaminate, eval_snippets

    docs = _t(spark, sf, "documents")
    return decontaminate(docs, eval_snippets(docs), n=8)


def _q_simhash_signatures(spark, sf):
    from logflow_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_t(spark, sf, "documents"))


def _q_top_terms_per_source(spark, sf):
    from logflow_spark.operators.tfidf import top_terms_per_source

    return top_terms_per_source(_t(spark, sf, "documents", wide=False), k=3)


def _q_doc_stats_by_source(spark, sf):
    docs = _t(spark, sf, "documents", wide=False)
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _q_ann_brute_topk(spark, sf):
    from logflow_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5)


def _q_embedding_neardup(spark, sf):
    """Embedding near-dup — served through the blocked-GEMM exact plan.

    Round-6 optimization: at the permissive cos >= 0.35 threshold the LSH
    tables were so coarse (16 buckets x 64 tables) that ~98% of ALL pairs
    became candidates — a hidden N^2/2 distinct-shuffle plus an interpreted
    64-element fold per pair (1100 s of the driver's 1356 s sf1 suite).
    The embedding matrix is the dim*8-bytes/row lightweight proxy of guide
    §8: broadcast it once, exact-cosine candidates via one float64 GEMM per
    block (margin 1e-6), then re-score the surviving pairs with the same
    JVM fold as the brute twin — output bit-identical, recall 1.0 by
    construction.  The bucketed-LSH path remains in operators/dedup.py for
    corpora past the broadcast envelope (documented there)."""
    from logflow_spark.operators.dedup import embedding_neardup_pairs_blocked

    return embedding_neardup_pairs_blocked(
        _t(spark, sf, "embeddings"), threshold=0.35
    )


def _q_simhash_neardup(spark, sf):
    from logflow_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(_t(spark, sf, "documents"), max_hamming=3)


def _q_ann_lsh_topk(spark, sf):
    from logflow_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=5)


def _q_ann_ivf_topk(spark, sf):
    import numpy as np
    import pandas as pd

    from logflow_spark.operators.similarity import ivf_topk

    _ensure_fixtures()
    cent = np.stack(pd.read_parquet(IVF_CENTROIDS_PATH)["vec"].to_numpy())
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, cent, k=5, n_probes=4)


def _q_multimodal_features(spark, sf):
    from logflow_spark.operators.multimodal import fake_feature_extract

    docs = _t(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = fake_feature_extract(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.size("feature").cast("long").alias("feature_dim"),
    )


# -- pages / north-rule family ---------------------------------------------
def _q_pages_flagship_tumbling(spark, sf):
    from logflow_spark.operators.windows import tumbling_counts, with_host

    return tumbling_counts(with_host(_pages(spark)), ts_col="warc_ts")


def _q_pages_extract_invariant(spark, sf):
    from logflow_spark.functions.text import extract_text_udf

    p = _pages(spark)
    return p.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(extract_text_udf(F.col("html")) == F.col("text"), 1).otherwise(0)
        ).alias("n_match"),
    )


def _q_pages_asof_enrichment(spark, sf):
    from logflow_spark.operators.asof_join import asof_join_pages_enrichment
    from logflow_spark.operators.windows import with_host
    from logflow_spark.schema import HOST_ENRICHMENT_SCHEMA

    pages = with_host(_pages(spark))
    enr = spark.read.schema(HOST_ENRICHMENT_SCHEMA).parquet(ENRICH_DIR)
    return asof_join_pages_enrichment(pages, enr).select(
        "url", "enrich_ts", "category", "score"
    )


def _q_pages_interval_join(spark, sf):
    """Time-bounded equi-join (the batch twin of the watermarked
    stream-stream join — identical plan, state-evictable bound)."""
    from logflow_spark.operators.asof_join import interval_join
    from logflow_spark.operators.windows import with_host
    from logflow_spark.schema import HOST_ENRICHMENT_SCHEMA

    pages = with_host(_pages(spark))
    enr = spark.read.schema(HOST_ENRICHMENT_SCHEMA).parquet(ENRICH_DIR)
    return interval_join(pages, enr, lookback="1 hour").select(
        "url", "warc_ts", "enrich_ts", "category", "score"
    )


def _q_pages_stream_join_native(spark, sf):
    """NATIVE stream-stream interval join (Spark's symmetric-hash join
    operator, not the custom-state as-of twin): both replay streams
    watermarked, equi-join on host with the event-time bound that lets the
    engine evict join state, drained through the exactly-once sink.
    Inner-join results emit eagerly (no sentinel dependency); oracle is the
    batch interval-join SQL over the same files."""
    from logflow_spark.operators.asof_join import interval_join
    from logflow_spark.operators.windows import with_host
    from logflow_spark.sources.replay import (
        enrichment_replay_stream,
        pages_replay_stream,
    )

    _ensure_fixtures()
    pages = with_host(
        pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    ).withWatermark("warc_ts", "73 hours")
    enr = enrichment_replay_stream(
        spark, ENRICH_DIR, max_files_per_trigger=4
    ).withWatermark("ts", "73 hours")
    joined = interval_join(pages, enr, lookback="1 hour").select(
        "url", "warc_ts", "enrich_ts", "category", "score"
    )
    # a symmetric-hash join instantiates 4 state stores PER shuffle
    # partition (left/right keyToNumValues/keyWithIndexToValue); at 32
    # partitions that fixed per-store cost dominates this 21k-row drain
    # (measured 18.5s vs 11.5s at sp=8, standalone)
    return _drain(joined, "stream_join_").read(spark)


def _q_pages_stream_url_dedup(spark, sf):
    """Streaming crawl ingest with URL-canonicalization dedup: every page
    arrives twice (clean + tracking-params recrawl variant), both collapse
    to one canonical form and dropDuplicatesWithinWatermark keeps exactly
    one — urlnorm composed into the keyed-state ingest path. Oracle:
    DISTINCT canonical over the same doubled construction."""
    from logflow_spark.operators.urlnorm import canonical_url
    from logflow_spark.sources.replay import pages_replay_stream

    _ensure_fixtures()
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    doubled = stream.select(
        F.col("warc_ts"),
        F.col("lang"),
        F.explode(
            F.array(
                F.col("url"),
                F.concat(F.col("url"), F.lit("?utm_source=recrawl&fbclid=x1")),
            )
        ).alias("url"),
    )
    canon = doubled.withColumn("curl", canonical_url("url"))
    deduped = (
        canon.withWatermark("warc_ts", "73 hours")
        .dropDuplicatesWithinWatermark(["curl"])
        .select("curl", "lang")
    )
    return _drain(deduped, "stream_urldedup_").read(spark).filter(~F.col("lang").eqNullSafe("xx")).select("curl")


def _q_pages_salted_skew_counts(spark, sf):
    from logflow_spark.operators.skew import salted_counts
    from logflow_spark.operators.windows import with_host
    from logflow_spark.schema import PAGES_SCHEMA

    _ensure_fixtures()
    pages = with_host(spark.read.schema(PAGES_SCHEMA).parquet(PAGES_SKEW_DIR))
    return salted_counts(pages, ["host"], n_salts=16, salt_source="url")


def _q_pages_stream_tumbling(spark, sf):
    """Full streaming path: replay → watermark → tumbling → exactly-once sink.

    Drains the chunked fixture with availableNow; the flush sentinel closes
    all real windows, so the committed sink content equals the batch (and
    DuckDB) recomputation over non-sentinel rows.
    """
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.topology import (
        TopologyConfig,
        build_windowed_topology,
    )

    _ensure_fixtures()
    cfg = TopologyConfig(window_kind="tumbling", watermark="73 hours")
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    agg = build_windowed_topology(stream, cfg, streaming=True)
    return _drain(agg, "stream_q_").read(spark).filter(~F.col("lang").eqNullSafe("xx"))


def _q_pages_stream_session(spark, sf):
    """Streaming SESSION windows end-to-end (gap 30min, keyed by lang+host),
    drained via availableNow against the exactly-once sink. Oracle: classic
    gaps-and-islands SQL over the same files (new session when the gap to
    the previous event ≥ 30min — matching session_window's half-open merge)."""
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.topology import (
        TopologyConfig,
        build_windowed_topology,
    )

    _ensure_fixtures()
    cfg = TopologyConfig(window_kind="session", gap="30 minutes", watermark="73 hours")
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    agg = build_windowed_topology(stream, cfg, streaming=True)
    return _drain(agg, "stream_sess_").read(spark).filter(~F.col("lang").eqNullSafe("xx"))


def _q_pages_stream_sliding(spark, sf):
    """Streaming SLIDING windows (10min/5min) end-to-end; oracle = union of
    the two shifted 5-min buckets each row belongs to."""
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.topology import (
        TopologyConfig,
        build_windowed_topology,
    )

    _ensure_fixtures()
    cfg = TopologyConfig(
        window_kind="sliding", duration="10 minutes", slide="5 minutes",
        watermark="73 hours",
    )
    stream = pages_replay_stream(spark, PAGES_STREAM_DIR, max_files_per_trigger=8)
    agg = build_windowed_topology(stream, cfg, streaming=True)
    return _drain(agg, "stream_slide_").read(spark).filter(~F.col("lang").eqNullSafe("xx"))


def _q_pages_stream_bursts(spark, sf):
    """CEP burst detection (transformWithStateInPandas) over the skewed
    pages stream: emit (host, t) exactly once when ≥20 pages land within
    [t - 30min, t]. Oracle: batch RANGE-window count (burst-ness is
    monotone in the event multiset — see streaming/cep.py)."""
    from logflow_spark.operators.windows import with_host
    from logflow_spark.sources.replay import pages_replay_stream
    from logflow_spark.streaming.cep import detect_bursts

    _ensure_fixtures()
    stream = with_host(
        pages_replay_stream(spark, PAGES_SKEW_DIR, max_files_per_trigger=8)
    )
    # watermark engages the bounded-state path (horizon pruning + idle-host
    # EventTimeTimeout eviction); at 73h lag over this 72h-span fixture the
    # horizon never bites, so output equals the batch RANGE oracle exactly
    bursts = detect_bursts(
        stream, n_events=20, window="30 minutes", watermark="73 hours"
    )
    return _drain(bursts, "stream_burst_").read(spark)


def _q_events_stream_absence(spark, sf):
    """Streaming CEP ABSENCE: views with no purchase within 30 min, emitted
    when the event-time timer at first_ts + 30min fires unmatched
    (applyInPandasWithState + EventTimeTimeout). Drained over the
    time-ordered funnel_events replay fixture; the final chunk is a
    far-future sentinel purchase (user -1) that closes every timer.
    Oracle: the batch funnel_absence forward-RANGE SQL over the same files
    — purchases are never emitted, so the sentinel needs no filtering."""
    from logflow_spark.fixtures.funnel_events import events_spark_schema
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.absence import detect_absence

    _ensure_fixtures()
    schema = events_spark_schema()
    stream = replay_stream(spark, FUNNEL_STREAM_DIR, schema, max_files_per_trigger=8)
    absent = detect_absence(stream, within="30 minutes", watermark="10 minutes")
    return _drain(absent, "stream_absence_").read(spark)


def _q_events_stream_funnel(spark, sf):
    """Streaming CEP SEQUENCE (funnel): for every view, the earliest
    purchase within 30 min, emitted once the watermark makes the candidate
    final (no earlier purchase can still arrive). Positive twin of
    events_stream_absence over the same replay fixture; oracle: the batch
    funnel_pairs forward-RANGE SQL over the same files."""
    from logflow_spark.fixtures.funnel_events import events_spark_schema
    from logflow_spark.sources.replay import replay_stream
    from logflow_spark.streaming.sequence import detect_sequence

    _ensure_fixtures()
    schema = events_spark_schema()
    stream = replay_stream(spark, FUNNEL_STREAM_DIR, schema, max_files_per_trigger=8)
    pairs = detect_sequence(stream, within="30 minutes", watermark="10 minutes")
    return _drain(pairs, "stream_funnel_", max_partition_bytes=1 << 20).read(spark)


def _q_log_promote_flags(spark, sf):
    from logflow_spark.operators.log_enrich import promote_and_flag
    from logflow_spark.schema import LOG_EVENTS_SCHEMA

    _ensure_fixtures()
    logs = spark.read.schema(LOG_EVENTS_SCHEMA).parquet(LOG_EVENTS_PATH)
    return promote_and_flag(logs).select(
        "timestamp",
        "serviceName",
        "msg",
        "url",
        "mobile",
        "is_valid_json",
        "has_data_mobile",
        "is_getotp_url",
        "log_date",
        "log_hour",
        "resources_json",
    )


def _q_served_query_full(spark, sf):
    """Reference served query end-to-end (QUERY_OPTIMIZATION_ANALYSIS.md:
    306-439): the one query the reference engine was designed around."""
    from logflow_spark.operators.log_enrich import served_query
    from logflow_spark.schema import LOG_EVENTS_SCHEMA

    _ensure_fixtures()
    logs = spark.read.schema(LOG_EVENTS_SCHEMA).parquet(LOG_EVENTS_PATH)
    return served_query(logs)


def _with_runtime(fn):
    """Every query body assumes UTC session timezone (window arithmetic,
    date_format/hour derivations, string timestamp literals) — apply the
    runtime confs regardless of how the driver built its session.

    Also clears the session cache BEFORE each query: several operators
    persist() multiply-referenced frames (dedup shingles, curation
    survivors, bucket indexes) whose consumers are in the RETURNED lazy
    plan, so the operator itself can never unpersist them. Clearing at
    query entry bounds CacheManager growth over the 68-query driver gate
    to one query's persists instead of the whole session's (the drained
    streaming tables are parquet on disk and unaffected).

    And resets spark.sql.files.maxPartitionBytes to the session default:
    _t() sizes it for the frame it returns, and that frame executes after
    _t() returns, so _t() cannot restore it. Without the reset every later
    query scanned with whatever split size the last _t() call left."""

    def wrapped(spark: SparkSession, sf: str) -> DataFrame:
        spark.catalog.clearCache()
        tune_for_runtime(spark)
        spark.sql("RESET spark.sql.files.maxPartitionBytes")
        return fn(spark, sf)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # --- driver-budget ordering: the driver checks entries in dict order
        # under a wall budget (r2 truncated 50/59, r3 50/66, r4 50/67,
        # r5 50/71). Round-6 rotation (VERDICT r5 task #2): the 21-entry
        # tail whose last driver rows date to r4 runs FIRST — round 5/6
        # changed code beneath several of them (exactly_once evolution under
        # every drain; neardup_stream sharding; this round's scan-width,
        # Arrow-scorer and blocked-GEMM rewrites under the ann/embedding
        # family) — then the block that got fresh r5 rows. Round-6 also cut
        # per-query cost across the board (local all-71 gate ~119 s at
        # sf0.01), so a full sweep may now fit the driver budget.
        # --- r4-stale tail (rotated up for round 6) ---
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_neardup": _q_embedding_neardup,
        "multimodal_features": _q_multimodal_features,
        "pack_sequences_ffd_512": _q_pack_sequences_ffd,
        "token_commonness": _q_token_commonness,
        "url_canonicalize": _q_url_canonicalize,
        "pages_flagship_tumbling": _q_pages_flagship_tumbling,
        "pages_extract_invariant": _q_pages_extract_invariant,
        "events_stream_absence": _q_events_stream_absence,
        "events_stream_funnel": _q_events_stream_funnel,
        "pages_stream_join_native": _q_pages_stream_join_native,
        "pages_stream_url_dedup": _q_pages_stream_url_dedup,
        "pages_stream_tumbling": _q_pages_stream_tumbling,
        "pages_stream_session": _q_pages_stream_session,
        "pages_stream_sliding": _q_pages_stream_sliding,
        "pages_stream_dedup": _q_pages_stream_dedup,
        "pages_stream_curate": _q_pages_stream_curate,
        "pages_stream_bursts": _q_pages_stream_bursts,
        "docs_stream_neardup": _q_docs_stream_neardup,
        "llm_pipeline_packed": _q_llm_pipeline_packed,
        # --- fresh r5 driver rows below ---
        "text_profile": _q_text_profile,
        "repetition_profile": _q_repetition_profile,
        "exact_dedup": _q_exact_dedup,
        "jaccard_pairs": _q_jaccard_pairs,
        "minhash_signatures": _q_minhash_signatures,
        "minhash_dedup_pairs": _q_minhash_dedup_pairs,
        "minhash_dedup_clusters": _q_minhash_dedup_clusters,
        "corpus_curation": _q_corpus_curation,
        "hash_sample_10pct": _q_hash_sample_10pct,
        "stratified_sample_mix": _q_stratified_sample_mix,
        "decontaminate_8gram": _q_decontaminate,
        "pii_scrub": _q_pii_scrub,
        "pack_sequences_512": _q_pack_sequences,
        "simhash_signatures": _q_simhash_signatures,
        "pages_interval_join": _q_pages_interval_join,
        "pages_salted_skew_counts": _q_pages_salted_skew_counts,
        "pages_asof_enrichment": _q_pages_asof_enrichment,
        "docs_stream_neardup_verified": _q_docs_stream_neardup_verified,
        "span_dedup_10tok": _q_span_dedup,
        "incremental_dedup_batch": _q_incremental_dedup,
        "docs_stream_decontam": _q_docs_stream_decontam,
        "hot_key_promotion": _q_hot_key_promotion,
        "event_flags": _q_event_flags,
        "time_partition_cols": _q_time_partition_cols,
        "filtered_time_range": _q_filtered_time_range,
        "log_promote_flags": _q_log_promote_flags,
        "served_query_full": _q_served_query_full,
        "salted_group_counts": _q_salted_group_counts,
        "distinct_users_by_type": _q_distinct_users_by_type,
        "sum_value_by_type": _q_sum_value_by_type,
        "pricing_summary": _q_pricing_summary,
        "broadcast_join_revenue": _q_broadcast_join_revenue,
        "multi_join_topn": _q_multi_join_topn,
        "orders_window_rank": _q_orders_window_rank,
        "union_event_sets": _q_union_event_sets,
        "except_intersect_customers": _q_except_intersect_customers,
        "rollup_event_counts": _q_rollup_event_counts,
        "customers_without_orders": _q_customers_without_orders,
        "customers_with_orders_semi": _q_customers_with_orders_semi,
        "event_value_quantiles": _q_event_value_quantiles,
        "funnel_view_purchase": _q_funnel_view_purchase,
        "funnel_abandonment": _q_funnel_abandonment,
        "tumbling_counts_10m": _q_tumbling,
        "sliding_counts_10m_5m": _q_sliding,
        "session_counts_30m": _q_session,
        "topk_buckets": _q_topk_buckets,
        "doc_stats_by_source": _q_doc_stats_by_source,
        "simhash_neardup_pairs": _q_simhash_neardup,
        "top_terms_per_source": _q_top_terms_per_source,
        "ann_brute_topk": _q_ann_brute_topk,
    }
    return {k: _with_runtime(v) for k, v in base.items()}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------
def _sql_minhash() -> str:
    from logflow_spark.operators.dedup import MINHASH_A, MINHASH_B, MOD, N_HASHES

    mins = ",\n       ".join(
        f"CAST(min((hm * {MINHASH_A[j]} + {MINHASH_B[j]}) % {MOD}) AS BIGINT) AS mh_{j}"
        for j in range(N_HASHES)
    )
    return f"""
WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'[{SQL_JAVA_WS}]+'), x -> x <> '') AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
       FROM tok, unnest(range(greatest(len(toks)-2,0))) AS t(i)),
hashed AS (SELECT doc_id, CAST(('0x' || substring(md5(sh),1,15)) AS UBIGINT)::BIGINT % {MOD} AS hm FROM sh)
SELECT doc_id, {mins}
FROM hashed GROUP BY doc_id
"""


def _sql_simhash() -> str:
    from logflow_spark.operators.dedup import MOD, SIMHASH_BITS  # noqa: F401

    votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {2**b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT DISTINCT doc_id, unnest(list_filter(regexp_split_to_array(text,'[{SQL_JAVA_WS}]+'), x -> x <> '')) AS tok FROM documents),
hashed AS (SELECT doc_id, CAST(('0x' || substring(md5(tok),1,15)) AS UBIGINT)::BIGINT % {2**SIMHASH_BITS} AS h FROM tok)
SELECT doc_id, CAST({votes} AS BIGINT) AS simhash
FROM hashed GROUP BY doc_id
"""


def _sql_jaccard_base(table: str = "documents") -> str:
    return f"""
WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'[{SQL_JAVA_WS}]+'), x -> x <> '') AS toks FROM {table}),
sh AS (SELECT DISTINCT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
       FROM tok, unnest(range(greatest(len(toks)-2,0))) AS t(i)),
sz AS (SELECT doc_id, count(*) AS szc FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(floor((n * 1.0 / (sa.szc + sb.szc - n)) * 1000000.0 + 0.5) AS BIGINT) AS jacc_e6
FROM inter
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE n * 1.0 / (sa.szc + sb.szc - n) >= 0.5
"""


_SQL_JACCARD_BASE = _sql_jaccard_base()


def _sql_cluster_ctes(table: str = "documents") -> str:
    """Shared CTE chain: near-dup pairs → symmetric edges → transitive reach
    → component min-label → per-doc cluster row (used under WITH RECURSIVE),
    parameterized by the (possibly pre-gated) corpus table."""
    return f"""pairs AS ({_sql_jaccard_base(table)}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT src AS id, src AS lab FROM edges
  UNION
  SELECT r.id, e.dst AS lab FROM reach r JOIN edges e ON e.src = r.lab
),
comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
clusters AS (
  SELECT d.doc_id,
         coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
  FROM {table} d LEFT JOIN comp c ON c.id = d.doc_id
)"""


_SQL_CLUSTER_CTES = _sql_cluster_ctes()


def _sql_ann_topk() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS va
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vb
      FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cos
      FROM q, c WHERE query_id <> neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
       CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rnk <= 5
"""


def _sql_ann_lsh_topk() -> str:
    """DuckDB twin of operators/similarity.py:lsh_topk — recomputes the
    seeded hyperplane sign-bit buckets from the materialized plane fixture
    (fixtures/hyperplanes.py), then the same candidate join + exact-cosine
    re-rank. Bit j of table t = sign(dot(plane[t,j], vec)), bucket =
    sum(bit << j)."""
    return f"""
WITH planes AS (SELECT tbl, bit, plane FROM read_parquet('{HYPERPLANES_PATH}')),
emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
bits AS (
  SELECT e.vec_id, p.tbl, p.bit,
         CASE WHEN list_dot_product(e.v, p.plane) > 0 THEN 1 ELSE 0 END AS b
  FROM emb e CROSS JOIN planes p
),
buckets AS (
  SELECT vec_id, tbl, sum(b * (1::BIGINT << bit)) AS bucket FROM bits GROUP BY 1, 2
),
qb AS (SELECT vec_id AS query_id, tbl, bucket FROM buckets WHERE vec_id < 10),
cb AS (SELECT vec_id AS neighbor_id, tbl, bucket FROM buckets),
cand AS (SELECT DISTINCT query_id, neighbor_id
         FROM qb JOIN cb USING (tbl, bucket) WHERE query_id <> neighbor_id),
qv AS (SELECT vec_id AS query_id, v AS vq FROM emb WHERE vec_id < 10),
cv AS (SELECT vec_id AS neighbor_id, v AS vn FROM emb),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(vq, vn) / (sqrt(list_dot_product(vq, vq)) * sqrt(list_dot_product(vn, vn))) AS cos
      FROM cand JOIN qv USING (query_id) JOIN cv USING (neighbor_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
       CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rnk <= 5
"""


def _sql_ann_ivf_topk() -> str:
    """DuckDB twin of operators/similarity.py:ivf_topk — replays the SAME
    IVF construction (materialized codebook, dot/|c| cell ranking with ties
    to the lower cid, top-4 probes, exact cosine re-rank), so the oracle is
    exact irrespective of IVF's recall vs brute force."""
    return f"""
WITH cent AS (SELECT cid, vec FROM read_parquet('{IVF_CENTROIDS_PATH}')),
emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
scored AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.v, c.vec) / sqrt(list_dot_product(c.vec, c.vec)) AS sim
  FROM emb e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
    FROM scored) WHERE r = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
    FROM scored WHERE vec_id < 10) WHERE r <= 4
),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cid)
  WHERE a.neighbor_id <> p.query_id
),
qv AS (SELECT vec_id AS query_id, v AS vq FROM emb WHERE vec_id < 10),
cv AS (SELECT vec_id AS neighbor_id, v AS vn FROM emb),
s AS (SELECT query_id, neighbor_id,
             list_dot_product(vq, vn) / (sqrt(list_dot_product(vq, vq)) * sqrt(list_dot_product(vn, vn))) AS cos
      FROM cand JOIN qv USING (query_id) JOIN cv USING (neighbor_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,
       CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rnk <= 5
"""


def _sql_pages_tumbling(path: str, where: str = "") -> str:
    return f"""
SELECT time_bucket(INTERVAL '10 minutes', warc_ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', warc_ts) + INTERVAL '10 minutes' AS window_end,
       lang,
       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
       count(*) AS cnt
FROM read_parquet('{path}/*.parquet') {where}
GROUP BY 1, 2, 3, 4
"""


def oracle_sql() -> dict[str, str]:
    from logflow_spark.operators.textstats import sql_text_profile

    _ensure_fixtures()
    sql: dict[str, str] = {}

    sql["tumbling_counts_10m"] = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
       event_type, count(*) AS cnt
FROM events GROUP BY 1, 2, 3
"""

    sql["sliding_counts_10m_5m"] = """
WITH cand AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type, ts FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS ws, event_type, ts FROM events
)
SELECT ws AS window_start, ws + INTERVAL '10 minutes' AS window_end,
       event_type, count(*) AS cnt
FROM cand WHERE ts >= ws AND ts < ws + INTERVAL '10 minutes'
GROUP BY 1, 2, 3
"""

    sql["session_counts_30m"] = """
WITH lagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
)
SELECT min(ts) AS window_start, max(ts) + INTERVAL '30 minutes' AS window_end,
       user_id, count(*) AS cnt
FROM sess GROUP BY user_id, sid
"""

    sql["topk_buckets"] = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
       count(*) AS cnt
FROM events GROUP BY 1, 2
ORDER BY window_start DESC LIMIT 100
"""

    sql["hot_key_promotion"] = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
"""

    sql["event_flags"] = """
SELECT event_id,
       CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS is_valid_json,
       CASE WHEN json_valid(props) AND json_extract_string(props, '$.k') IS NOT NULL THEN 1 ELSE 0 END AS has_k,
       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error,
       CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS is_high_value
FROM events
"""

    sql["time_partition_cols"] = """
SELECT strftime(ts, '%Y-%m-%d') AS log_date,
       CAST(hour(ts) AS BIGINT) AS log_hour, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

    sql["filtered_time_range"] = """
SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
  AND event_type = 'error'
  AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""

    sql["salted_group_counts"] = "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id"

    sql["distinct_users_by_type"] = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""

    sql["sum_value_by_type"] = """
SELECT event_type, count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""

    sql["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
       CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) * 100) AS BIGINT) AS sum_charge_e2,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["broadcast_join_revenue"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

    sql["multi_join_topn"] = """
SELECT r_name, n_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY n_customers DESC, n_name ASC LIMIT 10
"""

    sql["orders_window_rank"] = """
SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""

    sql["union_event_sets"] = """
SELECT event_id, user_id FROM events WHERE event_type = 'error'
UNION
SELECT event_id, user_id FROM events WHERE value > 90.0
"""

    sql["except_intersect_customers"] = """
WITH y95 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
     y96 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT o_custkey, 'only95' AS cohort FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
"""

    sql["rollup_event_counts"] = """
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(d, '<all>') AS d,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, value FROM events)
GROUP BY ROLLUP(event_type, d)
"""

    sql["customers_without_orders"] = """
SELECT c_custkey AS custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
"""

    sql["customers_with_orders_semi"] = """
SELECT c_custkey AS custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
"""

    sql["event_value_quantiles"] = """
SELECT event_type, CAST(50 AS BIGINT) AS q_e2, quantile_disc(value, 0.5) AS value
FROM events GROUP BY event_type
UNION ALL
SELECT event_type, CAST(95 AS BIGINT) AS q_e2, quantile_disc(value, 0.95) AS value
FROM events GROUP BY event_type
UNION ALL
SELECT event_type, CAST(99 AS BIGINT) AS q_e2, quantile_disc(value, 0.99) AS value
FROM events GROUP BY event_type
"""

    sql["funnel_view_purchase"] = """
SELECT user_id, event_id AS first_event_id,
       first_ts_us, then_ts_us, then_ts_us - first_ts_us AS gap_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS first_ts_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN CURRENT ROW AND 1800000000 FOLLOWING) AS then_ts_us
  FROM events)
WHERE event_type = 'view' AND then_ts_us IS NOT NULL
"""

    sql["funnel_abandonment"] = """
SELECT user_id, event_id AS first_event_id, first_ts_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS first_ts_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN CURRENT ROW AND 1800000000 FOLLOWING) AS then_ts_us
  FROM events)
WHERE event_type = 'view' AND then_ts_us IS NULL
"""

    sql["events_stream_absence"] = f"""
SELECT user_id, event_id AS first_event_id, first_ts_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS first_ts_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN CURRENT ROW AND 1800000000 FOLLOWING) AS then_ts_us
  FROM read_parquet('{FUNNEL_STREAM_DIR}/*.parquet'))
WHERE event_type = 'view' AND then_ts_us IS NULL
"""

    sql["events_stream_funnel"] = f"""
SELECT user_id, event_id AS first_event_id,
       first_ts_us, then_ts_us, then_ts_us - first_ts_us AS gap_us
FROM (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS first_ts_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN CURRENT ROW AND 1800000000 FOLLOWING) AS then_ts_us
  FROM read_parquet('{FUNNEL_STREAM_DIR}/*.parquet'))
WHERE event_type = 'view' AND then_ts_us IS NOT NULL
"""

    sql["pages_stream_dedup"] = f"""
SELECT DISTINCT CAST(('0x' || substring(md5(text),1,15)) AS UBIGINT)::BIGINT AS digest
FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet')
WHERE lang <> 'xx' AND text IS NOT NULL
"""

    from logflow_spark.operators.textstats import sql_repetition_profile

    sql["text_profile"] = sql_text_profile()
    sql["repetition_profile"] = sql_repetition_profile()

    # streaming curation drain: distinct text ≡ distinct digest (md5-based),
    # so the batch twin is profile-over-distinct-text + the same gates
    _curate_inner = f"""(
  SELECT DISTINCT CAST(('0x' || substring(md5(text),1,15)) AS UBIGINT)::BIGINT AS doc_id,
         text
  FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet')
  WHERE lang <> 'xx' AND text IS NOT NULL) t"""
    sql["pages_stream_curate"] = f"""
SELECT doc_id AS digest, n_tokens, lang_pred, quality_e6
FROM ({sql_text_profile(table=_curate_inner)}) p
WHERE quality_e6 >= 450000 AND n_tokens >= 30
"""

    sql["exact_dedup"] = """
SELECT CAST(('0x' || substring(md5(text),1,15)) AS UBIGINT)::BIGINT AS digest,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""

    sql["jaccard_pairs"] = _SQL_JACCARD_BASE
    # The near-dup pairs planted in `documents` sit at jaccard ≈ 0.97, where
    # the (16-hash, 4-band) LSH detection probability is ≈ 1 − (1−0.97⁴)⁴ ≈
    # 0.99998 — empirically ALL exact-jaccard pairs are caught (asserted in
    # tests/test_dedup_similarity.py), so the exact-jaccard SQL doubles as
    # the minhash-pipeline oracle.
    sql["minhash_dedup_pairs"] = _SQL_JACCARD_BASE
    # clusters = connected components over those pairs (recursive CTE reaches
    # the whole component; min reachable id = the Spark side's min-label
    # fixpoint), then every document gets a row (singletons keep their id)
    sql["minhash_dedup_clusters"] = f"""
WITH RECURSIVE {_SQL_CLUSTER_CTES}
SELECT doc_id, cluster_id, is_canonical FROM clusters
"""
    # the full curation pipeline: profile gate BEFORE clustering (canonical
    # = min id among gate-passing members, mirroring curate_corpus), all
    # stages composed from their individual SQL twins
    sql["corpus_curation"] = f"""
WITH RECURSIVE profile AS MATERIALIZED ({sql_text_profile()}),
gated AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN profile p USING (doc_id)
  WHERE p.quality_e6 >= 450000 AND p.n_tokens >= 20 AND p.lang_pred IN ('en')
),
{_sql_cluster_ctes("gated")}
SELECT p.doc_id, p.lang_pred, p.n_tokens, p.quality_e6, cl.cluster_id
FROM profile p JOIN clusters cl USING (doc_id)
WHERE cl.is_canonical
"""
    # Streaming LSH near-dup (round 4): with the drain horizon covering the
    # ingest span, the streamed distinct pair set equals the batch 4x4
    # banded join over the signature CTE — n_equal counts matching minhash
    # components (the /16 Jaccard estimate)
    from logflow_spark.streaming.neardup_stream import (
        STREAM_BAND_ROWS,
        STREAM_N_BANDS,
    )

    _bv = lambda side, b: " || '-' || ".join(  # noqa: E731
        f"CAST({side}.mh_{b * STREAM_BAND_ROWS + r} AS VARCHAR)"
        for r in range(STREAM_BAND_ROWS)
    )
    _band_match = " OR ".join(
        f"({_bv('a', b)}) = ({_bv('b', b)})" for b in range(STREAM_N_BANDS)
    )
    _neq = " + ".join(
        f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END" for j in range(16)
    )
    sql["docs_stream_neardup"] = f"""
WITH sigs AS ({_sql_minhash()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST({_neq} AS BIGINT) AS n_equal
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE {_band_match}
"""

    # streamed candidates + exact verify (round 5): the verified output is
    # exact-jaccard(≥0.5) ∩ 4x4-band-candidates — stated directly, with the
    # jaccard base as a derived table (DuckDB allows WITH inside FROM (...))
    sql["docs_stream_neardup_verified"] = f"""
WITH sigs AS MATERIALIZED ({_sql_minhash()}),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {_band_match})
SELECT v.id_a, v.id_b, v.jacc_e6
FROM ({_SQL_JACCARD_BASE}) v JOIN cand USING (id_a, id_b)
"""

    # END-TO-END LLM pipeline (round 4): all four stage twins composed as
    # one recursive-CTE chain over the PII-planted corpus — curate (profile
    # gate + near-dup canonical keep-list) → decontaminate (drop overlap
    # docs; eval snippets derived from the curated survivors, matching
    # eval_snippets(surv) on the Spark side) → pii_scrub → pack offsets.
    from logflow_spark.operators.decontam import (
        sql_decontaminate as _sql_dec,
    )
    from logflow_spark.operators.packing import (
        sql_pack_sequences as _sql_pack,
    )
    from logflow_spark.operators.scrub import sql_pii_scrub as _sql_scrub

    # AS MATERIALIZED on every multiply-referenced stage: DuckDB inlines
    # plain CTEs, so without the hint the profile/gate/cluster chain is
    # re-evaluated once per downstream reference — measured 23.3s → 1.05s
    # at sf0.01 with identical rows (the oracle-side twin of the Spark
    # plan's persist() decisions). The recursive cluster CTEs stay plain
    # (MATERIALIZED is not applicable to recursion).
    _planted = """planted AS MATERIALIZED (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 ref ' || CAST(doc_id * 1234567 + 10000000 AS VARCHAR) AS text
  FROM documents)"""
    sql["llm_pipeline_packed"] = f"""
WITH RECURSIVE {_planted},
profile AS MATERIALIZED ({sql_text_profile(table="planted")}),
gated AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM planted d JOIN profile p USING (doc_id)
  WHERE p.quality_e6 >= 450000 AND p.n_tokens >= 20 AND p.lang_pred IN ('en')
),
{_sql_cluster_ctes("gated")},
surv AS MATERIALIZED (
  SELECT g.doc_id, g.text FROM gated g JOIN clusters c USING (doc_id)
  WHERE c.is_canonical
),
dec AS MATERIALIZED ({_sql_dec(table="surv")}),
ok AS MATERIALIZED (
  SELECT s.doc_id, s.text FROM surv s JOIN dec USING (doc_id)
  WHERE NOT dec.contaminated
),
scrubbed AS MATERIALIZED ({_sql_scrub(table="ok")}),
clean AS MATERIALIZED (SELECT doc_id, clean_text AS text FROM scrubbed)
SELECT * FROM ({_sql_pack(table="clean", seq_len=512, n_shards=8)})
"""

    sql["hash_sample_10pct"] = """
SELECT * FROM documents
WHERE CAST(('0x' || substring(md5('corpus-v1:' || CAST(doc_id AS VARCHAR)),1,15)) AS UBIGINT)::BIGINT % 100 < 10
"""
    from logflow_spark.operators.curation import sql_stratified_hash_sample

    sql["stratified_sample_mix"] = sql_stratified_hash_sample(
        MIX_RATES, default_pct=5
    )
    from logflow_spark.operators.decontam import sql_decontaminate

    sql["decontaminate_8gram"] = sql_decontaminate()
    # the streaming drain is oracled by the SAME batch SQL: every fixture
    # doc is processed exactly once, the eval set derivation is identical,
    # and the sentinel never reaches the sink (decontam_stream docstring)
    sql["docs_stream_decontam"] = sql_decontaminate()

    from logflow_spark.operators.spandedup import sql_span_dedup

    sql["span_dedup_10tok"] = sql_span_dedup(span_tokens=10, min_dup=2)

    from logflow_spark.operators.incremental import sql_incremental_dedup

    sql["incremental_dedup_batch"] = sql_incremental_dedup(_SQL_JACCARD_BASE)

    from logflow_spark.operators.lm import sql_token_commonness

    sql["token_commonness"] = sql_token_commonness()

    from logflow_spark.operators.urlnorm import sql_canonical_url

    _noisy_url = """'HTTP://Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
      || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END)
      || '/p/' || CAST(doc_id AS VARCHAR)
      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      || '?utm_source=news&b=2&a=1&fbclid=xyz'
      || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"""
    sql["url_canonicalize"] = f"""
WITH noisy AS (SELECT doc_id, {_noisy_url} AS url FROM documents)
SELECT doc_id, url, {sql_canonical_url("url")} AS canonical_url FROM noisy
"""

    from logflow_spark.operators.packing import sql_pack_sequences
    from logflow_spark.operators.scrub import sql_pii_scrub

    sql["pack_sequences_512"] = sql_pack_sequences(seq_len=512, n_shards=8)

    # round-4: the FFD grouped-map operator gets an EXACT oracle after all —
    # a recursive CTE replays the sequential first-fit scan per shard
    # (operators/packing.py:sql_pack_sequences_ffd), closing the one
    # `no_oracle` driver row
    from logflow_spark.operators.packing import sql_pack_sequences_ffd

    sql["pack_sequences_ffd_512"] = sql_pack_sequences_ffd(
        seq_len=512, n_shards=8
    )

    sql["pii_scrub"] = sql_pii_scrub(
        table="""(
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 ref ' || CAST(doc_id * 1234567 + 10000000 AS VARCHAR) AS text
  FROM documents)"""
    )
    sql["minhash_signatures"] = _sql_minhash()
    sql["simhash_signatures"] = _sql_simhash()

    # banded hamming join has recall EXACTLY 1 (pigeonhole: k+1 bands for
    # hamming ≤ k), so the all-pairs hamming SQL is an exact oracle
    sql["simhash_neardup_pairs"] = f"""
WITH sigs AS ({_sql_simhash()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    sql["doc_stats_by_source"] = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source, lang
"""

    sql["top_terms_per_source"] = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(text, '[{SQL_JAVA_WS}]+'), x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT source) AS df FROM toks GROUP BY 1),
ng AS (SELECT count(DISTINCT source) AS n FROM documents),
scored AS (
  SELECT tf.source, tf.token,
         CAST(floor(tf.tf * ng.n * 1000000 / dfreq.df) AS BIGINT) AS score_e6
  FROM tf JOIN dfreq USING (token) CROSS JOIN ng
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score_e6 DESC, token ASC) AS rnk
  FROM scored
)
SELECT source, token, CAST(rnk AS BIGINT) AS rank, score_e6
FROM ranked WHERE rnk <= 3
"""

    sql["ann_brute_topk"] = _sql_ann_topk()

    sql["embedding_neardup"] = """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.ve, b.ve) / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))) AS cos
      FROM v a, v b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, CAST(floor(cos * 10000.0 + 0.5) AS BIGINT) AS cos_e4
FROM s WHERE cos >= 0.35
"""
    # embedding_neardup is SERVED by the LSH-bucketed implementation; its
    # seed-fixed candidates have verified recall 1.0 at the driver SF
    # (tests/test_dedup_similarity.py pins the exact entry parameters), so
    # the exact all-pairs SQL above is its oracle. The former duplicate
    # `embedding_neardup_bucketed` entry (identical computation run twice,
    # ~12s of driver budget) was removed in round 4.

    sql["ann_lsh_topk"] = _sql_ann_lsh_topk()
    sql["ann_ivf_topk"] = _sql_ann_ivf_topk()

    sql["multimodal_features"] = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(16 AS BIGINT) AS feature_dim
FROM documents
"""

    # pages / north-rule family — oracle over this repo's fixture files
    sql["pages_flagship_tumbling"] = _sql_pages_tumbling(PAGES_DIR)
    sql["pages_stream_tumbling"] = _sql_pages_tumbling(
        PAGES_STREAM_DIR, "WHERE lang <> 'xx'"
    )

    sql["pages_stream_sliding"] = f"""
WITH p AS (
  SELECT lang, regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host, warc_ts
  FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet') WHERE lang <> 'xx'
),
cand AS (
  SELECT time_bucket(INTERVAL '5 minutes', warc_ts) AS ws, lang, host, warc_ts FROM p
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', warc_ts) - INTERVAL '5 minutes' AS ws, lang, host, warc_ts FROM p
)
SELECT ws AS window_start, ws + INTERVAL '10 minutes' AS window_end,
       lang, host, count(*) AS cnt
FROM cand WHERE warc_ts >= ws AND warc_ts < ws + INTERVAL '10 minutes'
GROUP BY 1, 2, 3, 4
"""

    sql["pages_stream_session"] = f"""
WITH p AS (
  SELECT lang, regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host, warc_ts
  FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet') WHERE lang <> 'xx'
),
lagged AS (
  SELECT lang, host, warc_ts,
         CASE WHEN lag(warc_ts) OVER w IS NULL
              OR warc_ts - lag(warc_ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM p WINDOW w AS (PARTITION BY lang, host ORDER BY warc_ts)
),
sess AS (
  SELECT lang, host, warc_ts,
         sum(new_s) OVER (PARTITION BY lang, host ORDER BY warc_ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
)
SELECT min(warc_ts) AS window_start, max(warc_ts) + INTERVAL '30 minutes' AS window_end,
       lang, host, count(*) AS cnt
FROM sess GROUP BY lang, host, sid
"""

    # recompute title+paragraph extraction in DuckDB regexes (RE2, lazy
    # quantifiers + (?s) DOTALL) and compare to the stored text column —
    # this FAILS if the Arrow UDF's extraction semantics drift
    sql["pages_extract_invariant"] = f"""
WITH decoded AS (
  SELECT text, decode(html) AS s
  FROM read_parquet('{PAGES_DIR}/*.parquet')
),
extracted AS (
  SELECT text,
         array_to_string(
           (CASE WHEN regexp_matches(s, '(?s)<title>.*?</title>')
                 THEN [regexp_extract(s, '(?s)<title>(.*?)</title>', 1)]
                 ELSE [] END)
           || regexp_extract_all(s, '(?s)<p>(.*?)</p>', 1),
           chr(10)) AS recomputed
  FROM decoded
)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN recomputed = text THEN 1 ELSE 0 END) AS BIGINT) AS n_match
FROM extracted
"""

    sql["pages_asof_enrichment"] = f"""
SELECT p.url, e.ts AS enrich_ts, e.category, e.score
FROM (SELECT url, warc_ts,
             regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host
      FROM read_parquet('{PAGES_DIR}/*.parquet')) p
ASOF LEFT JOIN read_parquet('{ENRICH_DIR}/*.parquet') e
  ON p.host = e.host AND p.warc_ts >= e.ts
"""

    sql["pages_interval_join"] = f"""
SELECT p.url, p.warc_ts, e.ts AS enrich_ts, e.category, e.score
FROM (SELECT url, warc_ts,
             regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host
      FROM read_parquet('{PAGES_DIR}/*.parquet')) p
JOIN read_parquet('{ENRICH_DIR}/*.parquet') e
  ON p.host = e.host
 AND e.ts <= p.warc_ts
 AND e.ts >= p.warc_ts - INTERVAL '1 hour'
"""

    from logflow_spark.operators.urlnorm import sql_canonical_url as _scu

    sql["pages_stream_url_dedup"] = f"""
SELECT DISTINCT {_scu("url")} AS curl
FROM (
  SELECT url FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet') WHERE lang <> 'xx'
  UNION ALL
  SELECT url || '?utm_source=recrawl&fbclid=x1' AS url
  FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet') WHERE lang <> 'xx'
)
"""

    # native stream-stream join drain: inner matches emit eagerly, so the
    # drained set equals the batch interval join over the same files (the
    # flush sentinel's host has no enrichment rows — filtered for clarity)
    sql["pages_stream_join_native"] = f"""
SELECT p.url, p.warc_ts, e.ts AS enrich_ts, e.category, e.score
FROM (SELECT url, warc_ts,
             regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host
      FROM read_parquet('{PAGES_STREAM_DIR}/*.parquet') WHERE lang <> 'xx') p
JOIN read_parquet('{ENRICH_DIR}/*.parquet') e
  ON p.host = e.host
 AND e.ts <= p.warc_ts
 AND e.ts >= p.warc_ts - INTERVAL '1 hour'
"""

    # CEP burst oracle: the skew fixture has no sentinel row, and burst-ness
    # is monotone, so the streaming emit-once set equals this batch window
    sql["pages_stream_bursts"] = f"""
WITH p AS (
  SELECT regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host, warc_ts
  FROM read_parquet('{PAGES_SKEW_DIR}/*.parquet')
),
w AS (
  SELECT host, warc_ts,
         count(*) OVER (PARTITION BY host ORDER BY warc_ts
                        RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW) AS c
  FROM p
)
SELECT DISTINCT host, warc_ts AS burst_ts FROM w WHERE c >= 20
"""

    sql["pages_salted_skew_counts"] = f"""
SELECT regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
       count(*) AS cnt
FROM read_parquet('{PAGES_SKEW_DIR}/*.parquet')
GROUP BY 1
"""

    sql["log_promote_flags"] = f"""
SELECT timestamp, serviceName,
       map_extract(attributes, 'msg')[1] AS msg,
       map_extract(attributes, 'url')[1] AS url,
       COALESCE(CASE WHEN json_valid(body) THEN json_extract_string(body, '$.data.mobile') END,
                map_extract(attributes, 'mobile')[1]) AS mobile,
       CASE WHEN json_valid(body) THEN 1 ELSE 0 END AS is_valid_json,
       CASE WHEN json_valid(body) AND json_extract_string(body, '$.data.mobile') IS NOT NULL THEN 1 ELSE 0 END AS has_data_mobile,
       CASE WHEN regexp_matches(map_extract(attributes, 'url')[1], '.*/auth/v3/getOtp.*') THEN 1 ELSE 0 END AS is_getotp_url,
       strftime(strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ'), '%Y-%m-%d') AS log_date,
       CAST(hour(strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ')) AS BIGINT) AS log_hour,
       '{{"host":"' || map_extract(resources, 'host')[1] || '","env":"'
           || map_extract(resources, 'env')[1] || '"}}' AS resources_json
FROM read_parquet('{LOG_EVENTS_PATH}')
"""

    sql["served_query_full"] = f"""
WITH p1 AS (
  SELECT strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ') AS ts, serviceName, attributes, body
  FROM read_parquet('{LOG_EVENTS_PATH}')
  WHERE strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ') >= TIMESTAMP '2025-08-06 00:10:00'
    AND strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ') < TIMESTAMP '2025-08-06 01:10:00'
),
p2 AS (
  SELECT * FROM p1
  WHERE serviceName = 'falcon-mec'
    AND map_extract(attributes, 'msg')[1] = 'proxy-request'
    AND regexp_matches(map_extract(attributes, 'url')[1], '.*/auth/v3/getOtp.*')
),
p3 AS (
  SELECT ts, json_extract_string(body, '$.data.mobile') AS mobile FROM p2
  WHERE json_valid(body) AND json_extract_string(body, '$.data.mobile') IS NOT NULL
),
p4 AS (SELECT * FROM p3 WHERE mobile <> '')
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, count(*) AS cnt
FROM p4 GROUP BY 1 ORDER BY 1 DESC LIMIT 10000
"""

    return sql
