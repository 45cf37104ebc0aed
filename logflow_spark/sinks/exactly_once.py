"""Exactly-once idempotent table sink with per-partition lineage + metrics.

The reference gets exactly-once from Flink's checkpoint barriers plus the
filesystem sink's partition-commit protocol (pipeline/flink_kafka_to_parquet.py:216-222,
sink/flink_optimized_parquet_sink.py:102-112). In Spark, Structured Streaming
checkpoints source offsets per micro-batch and REPLAYS a batch_id after a
crash — so end-to-end exactly-once requires the sink to be idempotent per
batch_id. That is Iceberg's model (atomic snapshot commit); this class is the
same protocol self-contained on a filesystem, because the sandbox ships no
Iceberg runtime jar:

  table_dir/
    data/batch_id=<b>/<part_cols...>/*.parquet   (batch-scoped data dirs)
    data/batch_id=c<g>/<part_cols...>/*.parquet  (compaction generations)
    _commits/<b>.json                            (atomic manifest = commit)
    _commits/compact-<g>.json                    (compaction manifest)

Commit protocol per micro-batch:
  1. already committed? → return (idempotent replay no-op)
  2. write data files under data/batch_id=<b>/ (overwrite → crash debris
     from a previous half-write of the same batch is clobbered, not added)
  3. list the files just written: per-partition row counts (lineage +
     metrics) come from their parquet footers and Hive paths, so counts
     and file list come from one listing — no persist, no second job
  4. write manifest to _commits/.<b>.json.tmp, fsync, atomic rename to
     _commits/<b>.json  — the rename IS the commit point

Readers (``read``) take the union of committed manifests' files only, so a
crash between 2 and 4 leaves invisible orphans, never duplicates. On a real
cluster the same class works on any rename-atomic store; for S3-class stores
the production target is the Iceberg catalog (`df.writeTo(...).append()`)
with this manifest carried as snapshot summary properties.

File sizing (reference K1 rolling policy, sink/flink_parquet_sink.py:53-55):
``max_records_per_file`` caps file size at write time; ``compact()`` is the
maintenance twin of the reference's auto-compaction
(sink/flink_optimized_parquet_sink.py:108-117): it rewrites the current
visible file set into ~``target_file_bytes`` files under a new compaction
generation and commits it with ONE atomic manifest rename. The compaction
manifest lists the batch ids it covers; readers use the newest compaction
generation plus any batches committed after it. Batch manifests are never
deleted (idempotent replay of a compacted batch stays a no-op);
``vacuum()`` reclaims data files referenced only by superseded manifests.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_value_str(segment: str, dtype) -> str:
    """``str()`` of the value Spark collects for a Hive partition path value.

    Spark escapes path values as ``%XX`` (ASCII only) and writes null and
    the empty string as ``__HIVE_DEFAULT_PARTITION__``; both read back as
    null, so both count as ``None``. Booleans are spelled ``true``/``false``
    in paths; strings, integers, dates and decimals print as ``str()`` does."""
    v = re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), segment)
    if v == HIVE_NULL_PARTITION:
        return "None"
    if isinstance(dtype, BooleanType):
        return str(v == "true")
    return v


def promote_type(a, b):
    """Iceberg's promotable-type lattice: the widened type of two column
    types, or None when the change is non-promotable (Iceberg table spec
    §Schema Evolution: int→long, float→double, decimal(P,S)→decimal(P',S)
    with P'≥P). Order-independent; identical types promote to themselves.
    Spark's vectorized parquet reader performs exactly these upcasts when a
    file's physical type is narrower than the declared read schema, so the
    widened union schema stays a metadata-only evolution (verified on
    pyspark 4.1, tests/test_sink_compaction.py)."""
    from pyspark.sql.types import DecimalType, DoubleType, LongType

    if a == b:
        return a
    pair = {a.typeName(), b.typeName()}
    if pair == {"integer", "long"}:
        return LongType()
    if pair == {"float", "double"}:
        return DoubleType()
    if isinstance(a, DecimalType) and isinstance(b, DecimalType) and a.scale == b.scale:
        return DecimalType(max(a.precision, b.precision), a.scale)
    return None


class ExactlyOnceParquetSink:
    def __init__(
        self,
        table_dir: str,
        partition_by: Sequence[str] = (),
        compression: str = "zstd",
        max_records_per_file: int | None = None,
    ) -> None:
        self.table_dir = table_dir
        self.partition_by = list(partition_by)
        self.compression = compression
        self.max_records_per_file = max_records_per_file
        self.data_dir = os.path.join(table_dir, "data")
        self.commits_dir = os.path.join(table_dir, "_commits")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commits_dir, exist_ok=True)
        # current-snapshot union-schema cache keyed by the visible commit
        # set: manifests are immutable once renamed in, so the key fully
        # determines the schema. write_batch ADVANCES the cache on commit
        # (_advance_schema_cache folds the batch schema in under the new
        # key) so per-batch validation is a dict merge, not a re-read of
        # all N manifests — the same reason Iceberg keeps a current-schema
        # pointer in table metadata rather than re-deriving it per snapshot.
        self._schema_cache: tuple[tuple, object] | None = None

    # -- commit log --------------------------------------------------------
    def _commit_path(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, f"{batch_id}.json")

    def _compact_path(self, gen: int) -> str:
        return os.path.join(self.commits_dir, f"compact-{gen}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_path(batch_id))

    def committed_batches(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.commits_dir)
            if f.endswith(".json") and not f.startswith(".") and f[:-5].isdigit()
        )

    def compaction_gens(self) -> list[int]:
        return sorted(
            int(f[len("compact-"):-5])
            for f in os.listdir(self.commits_dir)
            if f.startswith("compact-") and f.endswith(".json")
        )

    def manifests(self) -> list[dict]:
        out = []
        for b in self.committed_batches():
            with open(self._commit_path(b)) as f:
                out.append(json.load(f))
        return out

    def _load_compaction(self, gen: int) -> dict:
        with open(self._compact_path(gen)) as f:
            return json.load(f)

    def visible_manifests(self, as_of: int | None = None) -> list[dict]:
        """The snapshot at batch ``as_of`` (inclusive); current when None.

        Time travel (Iceberg snapshot-id read parity): the snapshot AS OF
        batch b is the union of batches ≤ b, served from the newest
        compaction generation whose coverage fits entirely inside [0, b]
        plus the uncovered batch manifests. History stays readable until
        ``vacuum()`` reclaims superseded files — the same contract as
        Iceberg's expire_snapshots."""
        out: list[dict] = []
        covered: set[int] = set()
        for g in reversed(self.compaction_gens()):
            comp = self._load_compaction(g)
            covers = set(comp["covers_batches"])
            if as_of is None or all(b <= as_of for b in covers):
                covered = covers
                out.append(comp)
                break
        for m in self.manifests():
            if m["batch_id"] in covered:
                continue
            if as_of is not None and m["batch_id"] > as_of:
                continue
            out.append(m)
        return out

    # -- write path --------------------------------------------------------
    def _validate_batch_schema(self, df: DataFrame) -> None:
        """Reject a batch whose column types conflict non-promotably with
        the table's committed union schema BEFORE any data write — otherwise
        one bad commit would poison the log and make read()/compact() raise
        with no in-band recovery (round-3 advisory). Promotable changes
        (promote_type) are accepted: they are exactly what union_schema
        widens at read planning."""
        try:
            current = self.union_schema()
        except ValueError:
            # pre-existing (legacy/hand-edited) conflict — don't make it
            # worse, but don't block the repair path either
            return
        if current is None:
            return
        have = {f.name: f.dataType for f in current.fields}
        for f in df.schema.fields:
            prev = have.get(f.name)
            if prev is not None and promote_type(prev, f.dataType) is None:
                raise ValueError(
                    f"write_batch rejected: column '{f.name}' arrives as "
                    f"{f.dataType.simpleString()} but the table committed "
                    f"{prev.simpleString()} — not a promotable change "
                    "(int→long, float→double, decimal precision). Cast the "
                    "stream or write to a new table; nothing was committed."
                )

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent per batch_id."""
        if self.is_committed(batch_id):
            return
        self._validate_batch_schema(df)
        # evolved tables: resolve field ids BEFORE any data write so a
        # stale-writer schema (column under a renamed-away name) rejects
        # with nothing committed, like the type validation above
        reg = self._load_registry()
        field_ids = (
            self._resolve_batch_field_ids(reg, df.schema)
            if reg is not None
            else None
        )
        batch_dir = os.path.join(self.data_dir, f"batch_id={batch_id}")

        # One Spark job: the write itself. Lineage/metrics are read back
        # from what it wrote (see _written_files), so the batch is neither
        # persisted nor scanned a second time.
        t0 = time.perf_counter()
        writer = df.write.mode("overwrite").option("compression", self.compression)
        if self.max_records_per_file:
            # K1 rolling policy: cap file size at write time so a fat
            # micro-batch rolls over instead of emitting one huge file
            writer = writer.option("maxRecordsPerFile", str(self.max_records_per_file))
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(batch_dir)
        t1 = time.perf_counter()

        files, partition_counts = self._written_files(batch_dir, df.schema)
        manifest = {
            "batch_id": batch_id,
            "n_rows": sum(partition_counts.values()),
            "n_files": len(files),
            "partition_counts": partition_counts,
            "files": files,
            # schema travels in the commit log (Iceberg keeps it in table
            # metadata): readers build the union schema from manifests
            # alone — no footer scan over a million files at read planning
            "schema": json.loads(df.schema.json()),
            "field_ids": field_ids,
            "committed_at_unix": time.time(),
            # wall times of the data write and of the commit step (listing,
            # footer reads, manifest build); the fsync and the rename that
            # follow cannot be timed inside the manifest they publish
            "write_ms": round(1000.0 * (t1 - t0), 3),
            "commit_ms": round(1000.0 * (time.perf_counter() - t1), 3),
        }
        tmp = os.path.join(self.commits_dir, f".{batch_id}.json.tmp")
        pre_key = (
            tuple(self.committed_batches()),
            tuple(self.compaction_gens()),
            reg["version"] if reg is not None else None,
        )
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._commit_path(batch_id))  # commit point
        self._advance_schema_cache(pre_key, df.schema)

    def _written_files(self, batch_dir: str, schema) -> tuple[list[dict], dict]:
        """Manifest file list and per-partition row counts of one listing of
        ``batch_dir``: rows from each file's parquet footer, the partition
        from its Hive path, keyed ``k=str(value)`` as Spark collects it."""
        types = {f.name: f.dataType for f in schema.fields}
        files: list[dict] = []
        counts: dict[str, int] = {} if self.partition_by else {"": 0}
        for root, _dirs, names in os.walk(batch_dir):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(root, name)
                files.append(
                    {"path": os.path.relpath(p, self.table_dir), "bytes": os.path.getsize(p)}
                )
                key = ""
                if self.partition_by:
                    segs = os.path.relpath(root, batch_dir).split(os.sep)
                    key = "/".join(
                        f"{k}={_partition_value_str(seg.split('=', 1)[1], types[k])}"
                        for k, seg in zip(self.partition_by, segs)
                    )
                counts[key] = counts.get(key, 0) + pq.read_metadata(p).num_rows
        return files, counts

    def foreach_batch(self):
        """Adapter for writeStream.foreachBatch."""
        return lambda df, batch_id: self.write_batch(df, batch_id)

    @staticmethod
    def _fold_schema_fields(fields: dict, struct) -> None:
        """Fold one manifest/batch schema into the first-seen-order union
        field dict (in place); raises ValueError on a non-promotable type
        conflict. Shared by union_schema and the write-path cache advance."""
        from pyspark.sql.types import StructField

        for f in struct.fields:
            prev = fields.get(f.name)
            if prev is None:
                # nullable regardless of source: older/newer files that
                # lack the column surface nulls
                fields[f.name] = StructField(f.name, f.dataType, True)
            elif prev.dataType != f.dataType:
                # TYPE-WIDENING evolution: promotable changes (int→long,
                # float→double, decimal precision) resolve to the wider
                # type — the parquet reader upcasts narrower files at
                # scan time, no rewrite needed. Non-promotable changes
                # cannot occur from this writer (write_batch rejects the
                # batch before commit); a hand-edited/legacy log that
                # carries one is repaired by compact(resolve_types=...).
                wide = promote_type(prev.dataType, f.dataType)
                if wide is None:
                    raise ValueError(
                        f"schema evolution conflict on column '{f.name}': "
                        f"{prev.dataType.simpleString()} vs "
                        f"{f.dataType.simpleString()} is not a promotable "
                        "change — repair with compact(resolve_types="
                        "'newest') to rewrite history at one type"
                    )
                fields[f.name] = StructField(f.name, wide, True)

    def _advance_schema_cache(self, pre_key: tuple, batch_schema) -> None:
        """On successful commit, fold the just-written batch schema into the
        cached union StructType and advance the cache key — so the next
        write_batch's validation is a dict merge, not a re-read of all N
        manifests (the key contains the commit set, which every commit
        changes; manifests are immutable so the fold is exact). Only fires
        when the cache reflects the pre-commit snapshot (single-writer
        fast path); otherwise the next union_schema() rebuilds from disk."""
        from pyspark.sql.types import StructField, StructType

        if self._schema_cache is None or self._schema_cache[0] != pre_key:
            return
        cur = self._schema_cache[1]
        fields = {
            f.name: StructField(f.name, f.dataType, True) for f in cur.fields
        }
        try:
            self._fold_schema_fields(fields, batch_schema)
        except ValueError:
            self._schema_cache = None
            return
        reg = self._load_registry()
        self._schema_cache = (
            (
                tuple(self.committed_batches()),
                tuple(self.compaction_gens()),
                reg["version"] if reg is not None else None,
            ),
            StructType(list(fields.values())),
        )

    # -- column evolution: rename / drop via field ids ----------------------
    # Iceberg's rule: every column has a STABLE field id; rename/drop edit
    # only the id→name mapping in table metadata, never data files, and a
    # re-added name gets a NEW id so dropped data can never resurrect.
    # Here the registry lives in _commits/columns.json:
    #   {"version": k, "next_id": n,
    #    "fields": [{"id": i, "names": [historical..., current], "dropped": b}],
    #    "init_mapping": {phys_name: id}}
    # Manifests committed AFTER registry creation carry their own exact
    # {phys_name: id} map ("field_ids"); manifests from BEFORE map through
    # the frozen init_mapping (their physical names are exactly the names at
    # init time) — so every file's columns resolve to ids deterministically,
    # with no history search and no ambiguity. Reads always serve CURRENT
    # names (the registry is table-level, not snapshot-versioned — time
    # travel rewinds data, not column names, which is also what a renamed
    # Iceberg table serves for old snapshots read through current metadata).

    def _columns_path(self) -> str:
        return os.path.join(self.commits_dir, "columns.json")

    def _load_registry(self) -> dict | None:
        try:
            with open(self._columns_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _save_registry(self, reg: dict) -> None:
        reg["version"] = reg.get("version", 0) + 1
        tmp = os.path.join(self.commits_dir, ".columns.json.tmp")
        with open(tmp, "w") as f:
            json.dump(reg, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._columns_path())
        self._schema_cache = None  # name mapping changed

    def _init_registry(self) -> dict:
        """Create the field-id registry lazily on the first rename/drop:
        ids are assigned to the CURRENT union schema in first-seen column
        order, and that name→id snapshot is frozen as init_mapping so
        pre-registry manifests keep resolving forever."""
        reg = self._load_registry()
        if reg is not None:
            return reg
        schema = self.union_schema()
        if schema is None:
            raise ValueError(
                "column evolution needs manifest-recorded schemas; this "
                "table has legacy manifests without one — compact() first"
            )
        fields = [
            {"id": i, "names": [f.name], "dropped": False}
            for i, f in enumerate(schema.fields)
        ]
        reg = {
            "version": 0,
            "next_id": len(fields),
            "fields": fields,
            "init_mapping": {f.name: i for i, f in enumerate(schema.fields)},
        }
        self._save_registry(reg)
        return reg

    @staticmethod
    def _live_by_current(reg: dict) -> dict:
        return {
            f["names"][-1]: f for f in reg["fields"] if not f["dropped"]
        }

    @staticmethod
    def _manifest_field_map(m: dict, reg: dict) -> dict:
        """phys column name → field id for one manifest's files."""
        if m.get("field_ids") is not None:
            return dict(m["field_ids"])
        out = {}
        from pyspark.sql.types import StructType

        for f in StructType.fromJson(m["schema"]).fields:
            fid = reg["init_mapping"].get(f.name)
            if fid is None:
                raise ValueError(
                    f"manifest for batch {m.get('batch_id', m.get('compaction_gen'))} "
                    f"carries column '{f.name}' that is neither id-mapped nor "
                    "in the registry's init mapping — log is inconsistent"
                )
            out[f.name] = fid
        return out

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only rename: old files keep their physical name and read
        under the new one through the id mapping. Rejects renaming onto an
        existing live column (ambiguous by construction)."""
        reg = self._init_registry()
        live = self._live_by_current(reg)
        if old not in live:
            raise ValueError(
                f"rename_column: '{old}' is not a live column "
                f"(live: {sorted(live)})"
            )
        if new in live:
            raise ValueError(
                f"rename_column: '{new}' already names a live column — "
                "renaming onto it would be ambiguous; drop or rename it first"
            )
        live[old]["names"].append(new)
        self._save_registry(reg)

    def drop_column(self, name: str) -> None:
        """Metadata-only drop: files keep the bytes, reads exclude the
        column. A later write re-using the name gets a FRESH field id, so
        the dropped column's data never resurrects under the new one."""
        reg = self._init_registry()
        live = self._live_by_current(reg)
        if name not in live:
            raise ValueError(
                f"drop_column: '{name}' is not a live column "
                f"(live: {sorted(live)})"
            )
        live[name]["dropped"] = True
        self._save_registry(reg)

    def _resolve_batch_field_ids(self, reg: dict, schema) -> dict:
        """Current-name → field id for an arriving batch, registering fresh
        ids for new names. Rejects a STALE-WRITER schema: a batch column
        named by a live field's historical (renamed-away) name would
        silently fork a new column — raise instead (reject-on-ambiguity)."""
        live = self._live_by_current(reg)
        out = {}
        dirty = False
        for f in schema.fields:
            fld = live.get(f.name)
            if fld is not None:
                out[f.name] = fld["id"]
                continue
            for other in reg["fields"]:
                if not other["dropped"] and f.name in other["names"][:-1]:
                    raise ValueError(
                        f"write_batch rejected: column '{f.name}' was "
                        f"renamed to '{other['names'][-1]}' — the writer is "
                        "using a stale schema; write under the current name"
                    )
            # brand-new name (including re-use of a DROPPED field's name):
            # fresh id, per Iceberg's no-resurrection rule
            fid = reg["next_id"]
            reg["next_id"] = fid + 1
            reg["fields"].append(
                {"id": fid, "names": [f.name], "dropped": False}
            )
            out[f.name] = fid
            dirty = True
        if dirty:
            self._save_registry(reg)
        return out

    def _needs_mapped_read(self, manifests: list[dict], reg: dict) -> bool:
        by_id = {f["id"]: f for f in reg["fields"]}
        for m in manifests:
            if m.get("schema") is None:
                raise ValueError(
                    "registry table with a schema-less manifest — inconsistent"
                )
            for phys, fid in self._manifest_field_map(m, reg).items():
                fld = by_id[fid]
                if fld["dropped"] or fld["names"][-1] != phys:
                    return True
        return False

    def _read_mapped(
        self, spark: SparkSession, manifests: list[dict], reg: dict,
        as_of: int | None,
    ) -> DataFrame:
        """Scan path for tables with renames/drops in history: one scan per
        distinct (physical schema, field map) group — files inside a group
        are homogeneous — aliasing physical names to current names and
        casting to the union (widened) type, then unionByName. The common
        no-rename table never takes this path."""
        from pyspark.sql.types import StringType, StructField, StructType

        resolved = self.union_schema(as_of)
        want = {f.name: f.dataType for f in resolved.fields}
        by_id = {f["id"]: f for f in reg["fields"]}
        groups: dict[str, list[dict]] = {}
        for m in manifests:
            key = json.dumps(
                [m["schema"], self._manifest_field_map(m, reg)], sort_keys=True
            )
            groups.setdefault(key, []).append(m)
        parts = []
        for key, ms in groups.items():
            phys_schema = StructType.fromJson(ms[0]["schema"])
            fmap = self._manifest_field_map(ms[0], reg)
            files = [
                os.path.join(self.table_dir, f["path"])
                for m in ms
                for f in m["files"]
            ]
            reader = spark.read.option("basePath", self.data_dir).schema(
                StructType(
                    phys_schema.fields
                    + [StructField("batch_id", StringType(), True)]
                )
            )
            part = reader.parquet(*files).drop("batch_id")
            cols = []
            for phys in phys_schema.fieldNames():
                fld = by_id[fmap[phys]]
                cur = fld["names"][-1]
                if fld["dropped"] or cur not in want:
                    continue
                cols.append(F.col(phys).cast(want[cur]).alias(cur))
            parts.append(part.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        # stable column order: the union schema's (= field-id creation order)
        return df.select(*[c for c in resolved.fieldNames() if c in df.columns])

    # -- read path ---------------------------------------------------------
    def union_schema(self, as_of: int | None = None):
        """ADD-COLUMN + type-widening schema evolution: the union of the visible manifests'
        recorded schemas, in first-seen column order. A column added in a
        later batch reads as null for earlier files. Same-named columns
        must keep one type (type CHANGES need a rewrite — Iceberg's rule
        for non-promotable changes). Returns None for pre-evolution tables
        whose manifests carry no schema (reader falls back to mergeSchema).
        """
        from pyspark.sql.types import StructField, StructType

        reg = self._load_registry()
        cache_key = None
        if as_of is None:
            cache_key = (
                tuple(self.committed_batches()),
                tuple(self.compaction_gens()),
                reg["version"] if reg is not None else None,
            )
            if self._schema_cache is not None and self._schema_cache[0] == cache_key:
                return self._schema_cache[1]

        if reg is not None:
            # field-id path: fold types PER ID, serve CURRENT names, skip
            # dropped ids; order = id (creation) order
            by_id = {f["id"]: f for f in reg["fields"]}
            acc: dict[int, StructField] = {}
            for m in self.visible_manifests(as_of):
                s = m.get("schema")
                if s is None:
                    return None
                fmap = self._manifest_field_map(m, reg)
                for f in StructType.fromJson(s).fields:
                    fld = by_id[fmap[f.name]]
                    if fld["dropped"]:
                        continue
                    cur = fld["names"][-1]
                    tmp = (
                        {cur: acc[fld["id"]]} if fld["id"] in acc else {}
                    )
                    self._fold_schema_fields(
                        tmp, StructType([StructField(cur, f.dataType, True)])
                    )
                    acc[fld["id"]] = tmp[cur]
            out = StructType([acc[i] for i in sorted(acc)])
        else:
            fields: dict[str, StructField] = {}
            for m in self.visible_manifests(as_of):
                s = m.get("schema")
                if s is None:
                    return None
                self._fold_schema_fields(fields, StructType.fromJson(s))
            out = StructType(list(fields.values()))
        if cache_key is not None:
            self._schema_cache = (cache_key, out)
        return out

    def committed_files(self, as_of: int | None = None) -> list[str]:
        return [
            os.path.join(self.table_dir, f["path"])
            for m in self.visible_manifests(as_of)
            for f in m["files"]
        ]

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Snapshot read: committed files only (uncommitted debris invisible).

        ``as_of`` time-travels to the snapshot as of that batch id
        (inclusive) — vacuumed history raises on first file touch, exactly
        like reading an expired Iceberg snapshot. basePath keeps hive-style
        partition columns; batch_id is dropped (physical bookkeeping, not
        table schema).
        """
        files = self.committed_files(as_of)
        if not files:
            raise FileNotFoundError(
                f"no committed batches in {self.table_dir}"
                + (f" as of batch {as_of}" if as_of is not None else "")
            )
        reg = self._load_registry()
        if reg is not None:
            ms = self.visible_manifests(as_of)
            if self._needs_mapped_read(ms, reg):
                # renames/drops in history: per-schema-group scans aliased
                # through the field-id map; no-rename tables never pay this
                return self._read_mapped(spark, ms, reg, as_of)
        if as_of is not None:
            # local-FS fast-fail with a precise message; on remote stores the
            # scan itself raises on the first vacuumed file
            missing = [p for p in files if not os.path.exists(p)]
            if missing:
                raise FileNotFoundError(
                    f"snapshot as_of={as_of} references vacuumed files "
                    f"(history expired): {missing[:3]}"
                )
        reader = spark.read.option("basePath", self.data_dir)
        schema = self.union_schema(as_of)
        if schema is not None:
            # metadata-only schema evolution: the union schema comes from
            # the commit log; files missing a column yield nulls. batch_id
            # is a physical dir level ("7" / "c0"), declared string so
            # mixed batch/compaction dirs parse
            from pyspark.sql.types import StringType, StructField, StructType

            read_schema = StructType(
                schema.fields + [StructField("batch_id", StringType(), True)]
            )
            reader = reader.schema(read_schema)
        else:
            # pre-evolution table (no schema in manifests): merge footers
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files).drop("batch_id")

    def metrics(self) -> dict:
        ms = self.visible_manifests()
        total = sum(m["n_rows"] for m in ms)
        per_partition: dict[str, int] = {}
        for m in ms:
            for k, v in m["partition_counts"].items():
                per_partition[k] = per_partition.get(k, 0) + v
        return {
            "n_batches": len(self.committed_batches()),
            "total_rows": total,
            "per_partition_rows": per_partition,
        }

    # -- maintenance: compaction + vacuum -----------------------------------
    def _resolved_schema(self, snapshot: list[dict], how: str):
        """Repair schema for a log carrying a non-promotable type conflict:
        per column, promotable differences widen; non-promotable ones
        resolve to the type in the NEWEST manifest recording the column
        (how='newest' — the only supported policy). Returns None when any
        manifest lacks a recorded schema."""
        from pyspark.sql.types import StructField, StructType

        if how != "newest":
            raise ValueError(f"unsupported resolve_types policy: {how!r}")
        fields: dict[str, StructField] = {}
        for m in snapshot:  # visible_manifests is commit-ordered
            s = m.get("schema")
            if s is None:
                return None
            for f in StructType.fromJson(s).fields:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = StructField(f.name, f.dataType, True)
                else:
                    wide = promote_type(prev.dataType, f.dataType)
                    fields[f.name] = StructField(
                        f.name, wide if wide is not None else f.dataType, True
                    )
        return StructType(list(fields.values()))

    def _read_resolved(self, spark: SparkSession, snapshot: list[dict], how: str):
        """Read a snapshot whose files disagree non-promotably on column
        types: one scan PER distinct recorded schema (files of one schema
        are physically homogeneous), SQL-cast each to the resolution schema,
        union by name. Lossy casts (e.g. 'abc'→long = null) are the
        documented price of repairing a poisoned log."""
        from pyspark.sql.types import StringType, StructField, StructType

        resolved = self._resolved_schema(snapshot, how)
        groups: dict[str, list[str]] = {}
        for m in snapshot:
            key = json.dumps(m.get("schema"), sort_keys=True)
            groups.setdefault(key, []).extend(
                os.path.join(self.table_dir, f["path"]) for f in m["files"]
            )
        parts = []
        for key, files in groups.items():
            s = json.loads(key)
            reader = spark.read.option("basePath", self.data_dir)
            if s is not None:
                reader = reader.schema(
                    StructType(
                        StructType.fromJson(s).fields
                        + [StructField("batch_id", StringType(), True)]
                    )
                )
            else:
                reader = reader.option("mergeSchema", "true")
            part = reader.parquet(*files).drop("batch_id")
            if resolved is not None:
                part = part.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in resolved.fields
                        if f.name in part.columns
                    ]
                )
            parts.append(part)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return resolved, df

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        resolve_types: str | None = None,
    ) -> dict:
        """Rewrite the visible snapshot into ~target_file_bytes files.

        Reference parity: auto-compaction in
        sink/flink_optimized_parquet_sink.py:108-117 (128 MB rolling +
        compaction to 256 MB targets). Protocol:

        1. snapshot the visible manifests (covered batch ids + their files)
        2. rewrite all rows into data/batch_id=c<gen>/ — file count from the
           measured bytes/row of the inputs, capped by maxRecordsPerFile
        3. one atomic manifest rename commits the generation; readers flip
           from {old files} to {new files} in a single metadata operation

        Never deletes anything — ``vacuum()`` reclaims superseded files.
        Idempotent replay of an already-compacted batch_id remains a no-op
        because batch manifests are kept. Concurrency contract: one
        maintenance job at a time (same as Iceberg's rewrite_data_files).
        """
        snapshot = self.visible_manifests()
        if not snapshot:
            return {"gen": None, "n_files_in": 0, "n_files_out": 0}
        covers = sorted(
            {
                b
                for m in snapshot
                for b in (
                    m["covers_batches"] if "covers_batches" in m else [m["batch_id"]]
                )
            }
        )
        in_files = [
            os.path.join(self.table_dir, f["path"])
            for m in snapshot
            for f in m["files"]
        ]
        total_bytes = sum(f["bytes"] for m in snapshot for f in m["files"])
        total_rows = sum(m["n_rows"] for m in snapshot)
        gen = (self.compaction_gens()[-1] + 1) if self.compaction_gens() else 0
        out_dir = os.path.join(self.data_dir, f"batch_id=c{gen}")

        bytes_per_row = max(1.0, total_bytes / max(1, total_rows))
        rows_per_file = max(1, int(target_file_bytes / bytes_per_row))
        n_out = max(1, -(-total_rows // rows_per_file))  # ceil

        # rewrite through the evolved union schema: post-compaction files
        # physically contain every column (nulls filled, narrow types
        # widened), collapsing the add-column/type-widening history into one
        # homogeneous generation. resolve_types repairs a log with
        # non-promotable conflicts via per-schema-group scans + SQL casts.
        reg = self._load_registry()
        if resolve_types is not None:
            schema, df = self._read_resolved(spark, snapshot, resolve_types)
        elif reg is not None and self._needs_mapped_read(snapshot, reg):
            # rename/drop history: compaction rewrites files under CURRENT
            # names, collapsing the mapping the same way it collapses the
            # add-column/widening history
            schema = self.union_schema()
            df = self._read_mapped(spark, snapshot, reg, None)
        else:
            schema = self.union_schema()
            reader = spark.read.option("basePath", self.data_dir)
            if schema is not None:
                from pyspark.sql.types import StringType, StructField, StructType

                reader = reader.schema(
                    StructType(
                        schema.fields + [StructField("batch_id", StringType(), True)]
                    )
                )
            else:
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(*in_files)
            df = df.drop("batch_id")
        df = df.repartition(n_out)
        writer = (
            df.write.mode("overwrite")
            .option("compression", self.compression)
            .option("maxRecordsPerFile", str(rows_per_file))
        )
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(out_dir)

        files, per_partition = self._written_files(out_dir, df.schema)
        manifest = {
            "compaction_gen": gen,
            "covers_batches": covers,
            "n_rows": total_rows,
            "n_files": len(files),
            "partition_counts": per_partition,
            "files": files,
            "schema": json.loads(df.schema.json()) if schema is not None else None,
            # compacted files are physically written under CURRENT names
            "field_ids": (
                {
                    name: self._live_by_current(reg)[name]["id"]
                    for name in df.columns
                    if name in self._live_by_current(reg)
                }
                if reg is not None
                else None
            ),
            "committed_at_unix": time.time(),
        }
        tmp = os.path.join(self.commits_dir, f".compact-{gen}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._compact_path(gen))  # commit point
        return {
            "gen": gen,
            "n_files_in": len(in_files),
            "n_files_out": len(files),
            "n_rows": total_rows,
        }

    def vacuum(self) -> list[str]:
        """Delete data files referenced ONLY by superseded manifests (batches
        covered by the newest compaction + older compaction generations).
        Never touches unknown files — an in-flight uncommitted batch write is
        safe. Returns the deleted paths."""
        visible = {
            f["path"] for m in self.visible_manifests() for f in m["files"]
        }
        superseded: set[str] = set()
        gens = self.compaction_gens()
        covered = (
            set(self._load_compaction(gens[-1])["covers_batches"]) if gens else set()
        )
        for g in gens[:-1]:
            superseded.update(f["path"] for f in self._load_compaction(g)["files"])
        for m in self.manifests():
            if m["batch_id"] in covered:
                superseded.update(f["path"] for f in m["files"])
        deleted = []
        for rel in sorted(superseded - visible):
            p = os.path.join(self.table_dir, rel)
            if os.path.exists(p):
                os.remove(p)
                deleted.append(rel)
        return deleted
