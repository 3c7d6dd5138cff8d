"""`format("star")` — a pure-Python Spark DataSource for star tables.

The reference registers "star" through DataSourceRegister
(sources/StarLakeDataSource.scala:41-133: V1 relation + V2 TableProvider
+ StreamSinkProvider). PySpark 4's Python Data Source API lets us do
the same without a JVM plugin:

* batch: ``spark.read.format("star").load(path)`` — per-file Arrow
  scan of the pinned snapshot. Restricted to snapshots with no delta
  files (post-compaction state): MoR key-collapse belongs in the
  Catalyst-optimizable DataFrame recipe (`StarTable.to_df`), not in a
  row-through-Python reader. Delta-bearing hash tables raise with a
  pointer to `to_df()`.
* streaming: ``spark.readStream.format("star").load(path)`` — a real
  change-stream SOURCE (the reference has a sink only, SURVEY §2.7):
  offsets are manifest versions, each micro-batch reads exactly the
  files committed in (start, end], compaction commits are skipped
  (logically no-op rewrites, identified via Snapshot.commit_type), and
  every record carries its `_commit_version`. Offset determinism +
  Spark's checkpointing give exactly-once.

Scale posture: one InputPartition per data file — parallelism tracks
file count, partition pruning comes free from the manifest, and the
read path is pyarrow → Arrow RecordBatch (zero row-at-a-time Python).
"""

from __future__ import annotations

import dataclasses
import json
import os
import re

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from starlake_spark.meta import (ManifestStore, MetaError,
                                 TableNotFoundError, decode_range_value)

VERSION_COL = "_commit_version"
CHANGE_TYPE_COL = "_change_type"

# Snapshot.commit_type → CDF _change_type (Delta-Lake-style CDF labels).
# None ⇒ the commit is logically a no-op rewrite and contributes no
# change rows. Rewrite commits (CoW update/delete) are emitted coarsely:
# their added files are the POST-IMAGE of every touched partition (row
# -level pre/post diffing would mean re-reading the pre-commit snapshot
# per feed read — the delta DML paths are the full-fidelity CDF shape).
_CHANGE_TYPES = {
    "write": "insert",
    "delta": "update_postimage",
    # one commit carrying tombstones AND postimages
    # (dml.upsert_with_tombstones — the folded refresh/sync shape);
    # per-row labels derive from the tombstone flag where it matters
    "mixed_delta": "update_postimage",
    "delete_delta": "delete",
    "delete_dv": "delete",       # deletion-vector delete: no files added
    "update_dv": "update_postimage",  # DV update: postimages are new files
    "update": "update_postimage",
    "delete": "update_postimage",
    "compact": None,
    "part_compaction": None,  # OOM-guard chunk merge: a no-op rewrite
    "restore": None,
    "clone": None,
    # FSCK repair drops refs to physically MISSING files — the rows are
    # unrecoverable, so the feed cannot emit them; consumers that must
    # track the loss should full-resync (replication.sync_table full=True)
    "fsck": None,
}


def _change_type_for(commit_type: str) -> str | None:
    return _CHANGE_TYPES.get(commit_type, "insert")


@dataclasses.dataclass
class _FilePartition(InputPartition):
    abs_path: str
    exist_cols: tuple
    version: int
    # range-partition column values for this file, already converted to
    # python values — they live in the manifest/directory layout, not in
    # the parquet itself (partitionBy strips them)
    const_cols: tuple = ()
    # None ⇒ the file carries its own _commit_version/_change_type
    # columns (a write-time CDC log, dml._maybe_log_cdc)
    change_type: str | None = "insert"
    # RENAME COLUMN name-mapping: ((logical, (old_physical, ...)), ...)
    # so pre-rename files resolve in the plan-worker read path too
    aliases: tuple = ()
    # deletion vectors: sidecar parquet abs paths whose (_star_fid,
    # _star_pos) rows select positions of THIS file. dv_semi=False ⇒
    # anti (drop vectored rows, the live view); True ⇒ semi (emit ONLY
    # vectored rows — the CDF delete/preimage shape)
    dv_paths: tuple = ()
    dv_semi: bool = False
    # mixed tombstone+postimage files (commit_type mixed_delta):
    # "label" ⇒ per-row _change_type from the tombstone flag,
    # "drop" ⇒ tombstone rows filtered out (ignoreDeletes view)
    tomb_mode: str = ""


def _typed_part_value(v: str, dtype: T.DataType):
    """Directory-encoded partition value string → python value of the
    declared column type (range cols are NOT NULL by invariant)."""
    import datetime
    import decimal

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return v.lower() == "true"
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(v)
    if isinstance(dtype, T.TimestampType):
        return datetime.datetime.fromisoformat(v.replace(" ", "T"))
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(v)
    return v


def _alias_pairs(store: ManifestStore) -> tuple:
    from starlake_spark.operators.reader import alias_map

    return tuple((k, tuple(v))
                 for k, v in alias_map(store.table_info()).items())


def _file_partitions(store: ManifestStore, files, schema_types: dict,
                     change_type: str = "insert",
                     dv_by_rv: dict | None = None,
                     dv_semi: bool = False,
                     tomb_mode: str = "") -> list:
    aliases = _alias_pairs(store)
    parts = []
    for f in files:
        consts = tuple(
            (k, _typed_part_value(v, schema_types[k]))
            for k, v in decode_range_value(f.range_value).items()
            if k in schema_types
        )
        parts.append(
            _FilePartition(
                abs_path=os.path.join(store.table_path, f.path),
                exist_cols=tuple(f.exist_cols),
                version=f.write_version,
                const_cols=consts,
                change_type=change_type,
                aliases=aliases,
                dv_paths=(tuple(dv_by_rv.get(f.range_value, ()))
                          if dv_by_rv else ()),
                dv_semi=dv_semi,
                tomb_mode=tomb_mode,
            )
        )
    return parts


def _dv_paths_by_rv(store: ManifestStore, snap,
                    version: int | None = None) -> dict:
    """{range_value: (abs sidecar path, ...)} for a snapshot's deletion
    vectors — optionally only those committed AT ``version`` (the CDF
    delete/preimage emission reads just the new vectors)."""
    out = {}
    for rv, ps in snap.partitions.items():
        sel = [d for d in ps.dv_files
               if version is None or d.write_version == version]
        if sel:
            out[rv] = tuple(
                p if os.path.isabs(p) else os.path.join(store.table_path, p)
                for p in (d.path for d in sel))
    return out


def _table_schema(store: ManifestStore) -> T.StructType:
    return T.StructType.fromJson(json.loads(store.table_info().schema_json))


def _arrow_schema(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _read_aligned(part: _FilePartition, arrow_schema):
    """One parquet file → RecordBatches matching the requested Arrow
    schema: missing columns (file predates schema evolution) become
    nulls, renamed columns resolve their pre-rename physical name, the
    version/change-type columns attach as constants — or come from the
    file itself when ``change_type`` is None (a CDC log file carries
    per-row values)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(part.abs_path)
    if part.dv_paths:
        # deletion-vector filter, worker-side: positions are physical
        # row indexes in THIS file (fid = scheme-stripped abs path —
        # exactly part.abs_path); sidecars are tiny position lists
        import numpy as np

        pos = []
        for p in part.dv_paths:
            dv = pq.read_table(p, columns=["_star_fid", "_star_pos"])
            fids = np.asarray(dv["_star_fid"].to_pylist())
            pp = np.asarray(dv["_star_pos"].to_pylist(), dtype=np.int64)
            pos.extend(pp[fids == part.abs_path].tolist())
        mask = np.zeros(len(tbl), dtype=bool) if part.dv_semi \
            else np.ones(len(tbl), dtype=bool)
        idx = np.asarray([p for p in pos if p < len(tbl)], dtype=np.int64)
        mask[idx] = part.dv_semi
        tbl = tbl.filter(pa.array(mask))
    tomb_mask = None
    if part.tomb_mode:
        from starlake_spark.operators.reader import TOMBSTONE_COL

        if TOMBSTONE_COL in tbl.column_names:
            import numpy as np

            vals = tbl[TOMBSTONE_COL].to_pylist()
            tomb_mask = np.array([bool(x) for x in vals], dtype=bool)
            if part.tomb_mode == "drop" and tomb_mask.any():
                tbl = tbl.filter(pa.array(~tomb_mask))
                tomb_mask = None  # survivors are all live rows
    consts = dict(part.const_cols)
    amap = dict(part.aliases)

    def _physical(name):
        if name in tbl.column_names:
            return name
        for a in amap.get(name.lower(), ()):
            if a in tbl.column_names:
                return a
        return None

    from_file = part.change_type is None
    cols = []
    for field in arrow_schema:
        if field.name == VERSION_COL and not from_file:
            cols.append(pa.array([part.version] * len(tbl), type=field.type))
        elif field.name == CHANGE_TYPE_COL and not from_file:
            if tomb_mask is not None and part.tomb_mode == "label":
                cols.append(pa.array(
                    ["delete" if t else part.change_type
                     for t in tomb_mask], type=field.type))
            else:
                cols.append(pa.array([part.change_type] * len(tbl),
                                     type=field.type))
        elif field.name in consts and not from_file:
            cols.append(pa.array([consts[field.name]] * len(tbl), type=field.type))
        else:
            phys = _physical(field.name)
            if phys is not None:
                cols.append(tbl[phys].cast(field.type))
            else:
                cols.append(pa.nulls(len(tbl), type=field.type))
    out = pa.Table.from_arrays(cols, schema=arrow_schema)
    yield from out.to_batches()


def _prune_by_option(parts: list, partition_filter: str | None) -> list:
    """Manifest partition pruning via the ``partition_filter`` load
    option (PartitionFilter.scala:26-106 parity): a SQL predicate over
    the range-partition columns, evaluated per FILE against its decoded
    partition values with duckdb (one tiny in-memory table — this runs
    in the plan worker, where no SparkSession exists).

    Deliberately an explicit OPTION, not DataSourceReader.pushFilters:
    load options are immutable for the lifetime of the loaded DataFrame,
    so the pruned file set is one consistent view no matter how many
    queries are planned off it. pushFilters-based pruning is stateful
    per-planning, and Spark 4.1 reuses the last planned python-datasource
    scan for subsequent FILTERLESS queries on the same DataFrame without
    calling back into python — a filtered action followed by an
    unfiltered action would silently keep the pruned file set and drop
    rows. (Verified against pyspark 4.1.2; see tests.)
    """
    if not partition_filter or not parts:
        return parts
    import duckdb
    import pandas as pd

    rows = [dict(p.const_cols) | {"_idx": i} for i, p in enumerate(parts)]
    pdf = pd.DataFrame(rows)
    con = duckdb.connect()
    try:
        con.register("parts", pdf)
        keep = con.execute(
            f"SELECT _idx FROM parts WHERE {partition_filter}"
        ).df()["_idx"].tolist()
    finally:
        con.close()
    return [parts[i] for i in keep]


class _StarBatchReader(DataSourceReader):
    def __init__(self, table_path: str, schema: T.StructType, version: int | None,
                 partition_filter: str | None = None):
        self.table_path = table_path
        self.spark_schema = schema
        self.version = version
        self.partition_filter = partition_filter

    def partitions(self):
        store = ManifestStore(self.table_path)
        snap = store.snapshot(self.version)
        info = store.table_info()
        deltas = [f for f in snap.all_files() if not f.is_base_file]
        if info.hash_cols and deltas:
            raise ValueError(
                "format('star') batch read requires an all-base snapshot; "
                f"{len(deltas)} delta files present — run compaction() or "
                "read through StarTable.to_df(), which applies the "
                "merge-on-read collapse in the Catalyst plan"
            )
        types = {f.name: f.dataType for f in _table_schema(store).fields}
        parts = _file_partitions(store, snap.all_files(), types,
                                 dv_by_rv=_dv_paths_by_rv(store, snap))
        return _prune_by_option(parts, self.partition_filter)

    def read(self, partition: _FilePartition):
        if partition is None:  # zero partitions after pruning
            return
        yield from _read_aligned(partition, _arrow_schema(self.spark_schema))


class _StarStreamReader(DataSourceStreamReader):
    """Version-tailing change stream (SURVEY §2.7 'streaming source:
    not implemented' — this goes beyond the reference).

    ``change_types=True`` (load option ``changeTypes``) emits a Delta-
    CDF-style ``_change_type`` column and surfaces delete_delta commits
    as ``delete`` rows (the tombstoned keys, data columns null).
    Without it, a delete_delta commit in range RAISES unless
    ``ignoreDeletes=true`` — an append-only consumer must opt into
    skipping deletions rather than silently retaining deleted rows
    forever.

    ``with_preimages=True`` (option ``withPreimages``, requires
    ``changeTypes``) upgrades the stream to FULL-fidelity CDC by
    reading the write-time CDC logs (``cdf.enabled`` tables,
    dml._maybe_log_cdc): each delta commit streams its logged
    update_preimage/update_postimage/insert/delete rows with REAL
    merged values. Streaming preimages are log-only by design — the
    batch feed can re-derive them with two MoR scans per commit, but a
    plan worker has no SparkSession, so a delta commit without a log
    RAISES (enable cdf.enabled before the commits you want to stream,
    or use the batch ``table_changes`` for historical windows)."""

    def __init__(self, table_path: str, schema: T.StructType, starting_version: int,
                 partition_filter: str | None = None,
                 change_types: bool = False, ignore_deletes: bool = False,
                 with_preimages: bool = False,
                 max_versions_per_trigger: int | None = None,
                 max_bytes_per_trigger: int | None = None,
                 pace_id: str | None = None):
        if with_preimages and not change_types:
            raise ValueError("withPreimages requires changeTypes=true")
        if with_preimages and partition_filter:
            raise ValueError(
                "withPreimages is incompatible with partition_filter: CDC "
                "log files carry range values as data, not directory "
                "constants — filter the stream DataFrame instead")
        for k, v in (("maxVersionsPerTrigger", max_versions_per_trigger),
                     ("maxBytesPerTrigger", max_bytes_per_trigger)):
            if v is not None and v <= 0:
                raise ValueError(f"{k} must be positive, got {v}")
        if (max_versions_per_trigger or max_bytes_per_trigger) and not pace_id:
            raise ValueError(
                "maxVersionsPerTrigger/maxBytesPerTrigger require a "
                "paceId option: the pacing cursor persists under the "
                "table per id, and two streams sharing one would "
                "interfere")
        self.table_path = table_path
        self.spark_schema = schema
        self.starting_version = starting_version
        self.partition_filter = partition_filter
        self.change_types = change_types
        self.ignore_deletes = ignore_deletes
        self.with_preimages = with_preimages
        self.max_versions = max_versions_per_trigger
        self.max_bytes = max_bytes_per_trigger
        self.pace_id = pace_id
        self._paced_from = starting_version  # advances as batches plan

    # Pacing cursor persistence: latestOffset is called BEFORE
    # initialOffset and never sees the engine's committed position, so
    # a paced offset computed from a stale base could REWIND a
    # restarted stream (re-emitting versions the checkpoint already
    # processed as a later batch's "new" range). The cursor file —
    # rewritten on every commit(end) — is always >= the engine's
    # committed position, so pacing from max(cursor, local progress)
    # can never go backwards. Resetting a checkpoint without changing
    # paceId leaves a stale-high cursor: the first batch then runs
    # unpaced up to the cursor (safe), after which pacing resumes.

    def _pace_file(self) -> str:
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", self.pace_id)
        return os.path.join(self.table_path, "_star_meta", "pacing", safe)

    def _pace_cursor(self) -> int:
        try:
            with open(self._pace_file()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return self.starting_version

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        """Rate-limited (Delta maxFilesPerTrigger/maxBytesPerTrigger
        analog): ``maxVersionsPerTrigger`` caps commits per micro-batch;
        ``maxBytesPerTrigger`` advances until the batch's commit bytes
        reach the cap (always at least one commit, so the stream never
        stalls on an oversized commit). Backlog then drains across
        triggers instead of one giant catch-up batch — the knob that
        keeps recovery batches executor-memory-sized at 100 TB.

        Trigger note: pacing is for continuous/processingTime triggers.
        Under availableNow the engine captures ONE paced offset as the
        run's endpoint (the python source API exposes no admission
        control), so each availableNow run advances one paced window;
        repeated runs drain the backlog."""
        store = ManifestStore(self.table_path)
        latest = store.latest_version()
        if self.max_versions is None and self.max_bytes is None:
            return {"version": latest}
        base = max(self._paced_from, self._pace_cursor())
        end = latest
        if self.max_versions is not None:
            end = min(end, base + self.max_versions)
        if self.max_bytes is not None and end > base:
            total = 0
            v = base
            while v < end:
                v += 1
                snap = store.snapshot(v)
                total += sum(f.size for f in snap.all_files()
                             if f.write_version == v)
                if total >= self.max_bytes:
                    break
            end = v
        self._paced_from = max(self._paced_from, end)
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        store = ManifestStore(self.table_path)
        types = {f.name: f.dataType for f in _table_schema(store).fields}
        parts: list[_FilePartition] = []
        # re-sync the pacing cursor to the engine's real progress (it
        # restarts at startingVersion after a driver restart; the
        # checkpoint is the truth)
        self._paced_from = max(self._paced_from, start["version"])
        for v in range(start["version"] + 1, end["version"] + 1):
            snap = store.snapshot(v)
            ct = _change_type_for(snap.commit_type)
            if ct is None:
                continue
            if snap.commit_type in ("delete_delta", "delete_dv",
                                    "mixed_delta") \
                    and not self.change_types:
                if not self.ignore_deletes:
                    raise ValueError(
                        f"stream source hit a {snap.commit_type} commit at "
                        f"version {v}: downstream would silently retain "
                        "deleted rows. Read with .option('changeTypes', "
                        "'true') to receive delete rows, or .option("
                        "'ignoreDeletes', 'true') to acknowledge an "
                        "append-only view")
                if snap.commit_type != "mixed_delta":
                    continue
                # mixed commit under ignoreDeletes: the postimage rows
                # still flow; tombstone rows drop in the file reader
            if snap.commit_type in ("delete_dv", "update_dv"):
                # deletion-vector commits: the vectored rows ARE the
                # deleted/pre-update rows with real values — emit them
                # via a semi filter of the partition's files against
                # the vectors committed at v (worker-side pyarrow; no
                # CDC log needed, positions identify exact pre-rows).
                # update_dv postimages are the commit's new files and
                # flow through the generic added-files path below.
                dv_new = _dv_paths_by_rv(store, snap, version=v)
                if dv_new and (snap.commit_type == "delete_dv"
                               or self.with_preimages):
                    pre_ct = ("delete" if snap.commit_type == "delete_dv"
                              else "update_preimage")
                    # only pre-existing files can hold vectored rows
                    # (update_dv's own postimage files join at v)
                    cand = [f for rv2 in dv_new
                            for f in snap.partitions[rv2].files
                            if f.write_version < v]
                    sub = _file_partitions(
                        store, cand, types, change_type=pre_ct,
                        dv_by_rv=dv_new, dv_semi=True)
                    for p in sub:
                        p.version = v
                    parts.extend(sub)
                if snap.commit_type == "delete_dv":
                    continue
            if (self.with_preimages
                    and snap.commit_type in ("delta", "delete_delta",
                                             "mixed_delta")):
                from starlake_spark.operators.dml import CDC_DIR

                log_dir = os.path.join(store.table_path, CDC_DIR, str(v))
                if not os.path.isdir(log_dir):
                    raise ValueError(
                        f"withPreimages stream: commit {v} "
                        f"({snap.commit_type}) has no CDC log — enable the "
                        "cdf.enabled table property before writing, or use "
                        "batch table_changes(with_preimages=True), which "
                        "can re-derive historical commits")
                aliases = _alias_pairs(store)
                parts.extend(
                    _FilePartition(
                        abs_path=os.path.join(log_dir, n),
                        exist_cols=(), version=v, const_cols=(),
                        change_type=None,  # CDF columns come from the file
                        aliases=aliases)
                    for n in sorted(os.listdir(log_dir))
                    if n.endswith(".parquet") and not n.startswith((".", "_")))
                continue
            new_files = [f for f in snap.all_files() if f.write_version == v]
            tomb_mode = ""
            if snap.commit_type == "mixed_delta":
                # per-row labels when the consumer asked for change
                # types; tombstone rows dropped under ignoreDeletes
                tomb_mode = "label" if self.change_types else "drop"
            parts.extend(_file_partitions(store, new_files, types,
                                          change_type=ct,
                                          tomb_mode=tomb_mode))
        return _prune_by_option(parts, self.partition_filter)

    def read(self, partition: _FilePartition):
        yield from _read_aligned(partition, _arrow_schema(self.spark_schema))

    def commit(self, end: dict) -> None:
        if self.max_versions is None and self.max_bytes is None:
            return
        fp = self._pace_file()
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        tmp = fp + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(end["version"]))
        os.replace(tmp, fp)

    def stop(self) -> None:
        pass


@dataclasses.dataclass
class _WriteMessage(WriterCommitMessage):
    rel_paths: tuple  # files this task wrote, relative to the table root


def _opt(options: dict | None, key: str, default=None):
    """Case-insensitive option lookup (reference
    schema/CaseSensitivitySuite.scala:219-277: ``rAngeParTitionS`` etc.
    work regardless of spark.sql.caseSensitive)."""
    lk = key.lower()
    for k, v in (options or {}).items():
        if str(k).lower() == lk:
            return v
    return default


def _create_from_write(table_path: str, schema: T.StructType,
                       options: dict) -> "TableInfo":
    """First write to a fresh path CREATES the table — the reference's
    primary creation surface (``df.write.format("star")
    .option("rangePartitions", ...).save(path)``,
    CaseSensitivitySuite/TableCreationTests). Partition option VALUES
    resolve case-insensitively against the data and canonicalize to the
    data's casing; duplicate column names differing only by case are
    rejected (reference 'two fields with same name')."""
    import uuid as _uuid

    from starlake_spark.meta import TableInfo

    # NullType columns never enter a declared schema (same rule as
    # merge_source_schema) — a table created from a frame carrying a
    # bare lit(None) column simply drops it; NESTED NullTypes refuse
    # (SchemaEnforcementSuite 'throw error on complex types')
    from starlake_spark.operators.writer import reject_nested_null_types

    reject_nested_null_types(schema)
    dropped_null = any(isinstance(f.dataType, T.NullType)
                       for f in schema.fields)
    schema = T.StructType([f for f in schema.fields
                           if not isinstance(f.dataType, T.NullType)])
    if not schema.fields:
        raise ValueError("cannot create a table from a frame whose "
                         "columns are all NullType")
    names = schema.fieldNames()
    by_lower: dict[str, str] = {}
    for c in names:
        if c.lower() in by_lower:
            raise ValueError(
                f"duplicate column names differing only by case: "
                f"'{by_lower[c.lower()]}' and '{c}' "
                "(CaseSensitivitySuite 'two fields with same name')")
        by_lower[c.lower()] = c

    def _cols(spec: str | None) -> list[str]:
        out = []
        for c in (spec or "").split(","):
            c = c.strip()
            if not c:
                continue
            resolved = by_lower.get(c.lower())
            if resolved is None:
                raise ValueError(f"partition column '{c}' not in data")
            out.append(resolved)
        return out

    range_cols = _cols(_opt(options, "rangePartitions"))
    hash_cols = _cols(_opt(options, "hashPartitions"))
    part_lower = {c.lower() for c in range_cols + hash_cols}
    if part_lower and all(f.name.lower() in part_lower
                          for f in schema.fields):
        if dropped_null:
            # every data column was untyped and got dropped
            # (SchemaEnforcementSuite 'NullType being only data column')
            raise ValueError(
                "all data columns were untyped and their NullType have "
                "been dropped — only partition/hash key columns "
                "remain; cast the untyped (all-null) fields to "
                "concrete types")
        # the user declared every column a partition key
        # (StarSinkSuite 'can't write out with all columns being
        # partition columns')
        raise ValueError(
            "Cannot use all columns for partition columns — at least "
            "one data column is required")
    bucket = _opt(options, "hashBucketNum")
    if hash_cols and bucket is None:
        raise ValueError(
            "You must set the bucket num (hashBucketNum) when using "
            "hash partitions")
    short = _opt(options, "shortTableName")
    # build the PENDING TableInfo only — persisting it is the driver
    # commit's job (_persist_pending_create): creating during writer
    # planning would leave a committed empty table (plus a permanent
    # shortTableName registration) behind every failed/aborted first
    # write, and the retry would then hit existing-table semantics
    # (e.g. the hash-append refusal) for the very write that was meant
    # to create the table
    return TableInfo(
        table_path=table_path,
        table_id=f"table_{_uuid.uuid4().hex[:16]}",
        schema_json=schema.json(),
        range_cols=range_cols,
        hash_cols=hash_cols,
        bucket_num=int(bucket) if bucket is not None else -1,
        configuration={"schema.autoMerge.enabled": "true"},
        short_name=short,
    )


def _persist_pending_create(info) -> None:
    """Publish a first write's pending table (idempotent against a
    concurrent first-writer racing the same path: the loser adopts the
    winner's table ONLY if both partition layout and schema agree —
    the loser's parquet files were already written cast to its own
    pending schema, so adopting a table whose schema can't absorb them
    would silently drop or mis-declare columns)."""
    store = ManifestStore(info.table_path)
    try:
        store.create(info)
    except MetaError:
        store = ManifestStore(info.table_path)
        existing = store.table_info()
        if ([c.lower() for c in existing.range_cols]
                != [c.lower() for c in info.range_cols]
                or [c.lower() for c in existing.hash_cols]
                != [c.lower() for c in info.hash_cols]):
            raise
        # Shared columns must agree exactly or within one numeric
        # upcast family: the loser's files store the LOSER's types, so
        # no write-time cast can repair a cross-family conflict —
        # merge_source_schema alone would keep the winner's declared
        # type and silently mis-declare those files
        from starlake_spark.operators.dml import (_widened,
                                                  merge_source_schema)

        pending = T.StructType.fromJson(json.loads(info.schema_json))
        existing_schema = T.StructType.fromJson(
            json.loads(existing.schema_json))
        win_lower = {f.name.lower(): f for f in existing_schema.fields}
        for f in pending.fields:
            w = win_lower.get(f.name.lower())
            if w is not None and w.dataType != f.dataType \
                    and _widened(w.dataType, f.dataType) is None \
                    and _widened(f.dataType, w.dataType) is None:
                raise MetaError(
                    f"concurrent first write to {info.table_path} "
                    f"created the table with an incompatible schema: "
                    f"column '{f.name}' is {f.dataType.simpleString()} "
                    f"here but {w.dataType.simpleString()} there")
        try:
            # widens the winner where our type is wider; appends our
            # new columns nullable (autoMerge rules apply)
            merge_source_schema(pending, store)
        except ValueError as e:
            raise MetaError(
                f"concurrent first write to {info.table_path} created "
                f"the table with an incompatible schema: {e}") from e
        return  # a concurrent first write created it compatibly
    if info.short_name:
        from starlake_spark import catalog

        catalog.register(info.short_name, info.table_path, None)


def _validate_write_target(table_path: str, schema: T.StructType,
                           options: dict | None = None,
                           overwrite: bool = True):
    """Shared driver-side guards for the V2 write paths; returns
    (info, cast_types, out_names) — the declared types for the present
    columns and the declared (original-case) name each incoming column
    stores under. Creates the table on a first write to a fresh path."""
    store = ManifestStore(table_path)
    created = False
    try:
        info = store.table_info()
    except TableNotFoundError:
        info = _create_from_write(table_path, schema, options or {})
        created = True  # pending — persisted by the commit
    if not created:
        # partition options on an existing table must agree (reference
        # 'can't change partition columns')
        def _norm(spec):
            return [c.strip().lower() for c in str(spec).split(",")
                    if c.strip()]

        rspec = _opt(options, "rangePartitions")
        if rspec is not None and \
                _norm(rspec) != [c.lower() for c in info.range_cols]:
            raise ValueError(
                f"range partition column {info.range_cols} was already "
                "set when creating table, it conflicts with your "
                f"partition columns {rspec}")
        hspec = _opt(options, "hashPartitions")
        if hspec is not None and \
                _norm(hspec) != [c.lower() for c in info.hash_cols]:
            raise ValueError(
                f"Hash partition column {info.hash_cols} was already "
                f"set when creating table, it conflicts with {hspec}")
    if info.hash_cols and not overwrite and not created:
        raise ValueError(
            "When use hash partition and not first commit, `Append` "
            "mode is not supported — upsert through StarTable / "
            "streaming.write_stream (WriteIntoTable.scala:96-97)")
    cfg = info.configuration or {}
    if any(k.startswith(("check.", "generated.")) for k in cfg):
        raise ValueError(
            "this table declares CHECK constraints / generated columns; "
            "write through the table API, which enforces them in the "
            "write pass")
    declared = T.StructType.fromJson(json.loads(info.schema_json))
    declared_lower = {f.name.lower(): f for f in declared.fields}
    # NullType columns (lit(None) with no cast) are silently dropped,
    # matching merge_source_schema ("NullType columns never enter the
    # schema") — without this, a merge would skip them and the
    # cast_types build below would KeyError on the missing declaration
    writable = [f for f in schema.fields
                if not isinstance(f.dataType, T.NullType)]
    # overwriteSchema (reference SchemaEnforcementSuite 'complete mode
    # can overwrite schema with option' + SchemaValidationSuite's
    # overwriteSchema writes): a truncate-overwrite may REPLACE the
    # declared schema with the source's — partition/hash columns must
    # survive with their types (layout contracts). The replace itself
    # publishes at commit time (commit() below), so a failed job leaves
    # the old schema untouched.
    ow_schema = str(_opt(options, "overwriteSchema", "false")).lower() \
        == "true"
    new_schema_json = None
    if ow_schema and not created:
        if not overwrite:
            raise ValueError(
                "overwriteSchema requires mode('overwrite') — an append "
                "cannot replace the table schema")
        writable_lower = {f.name.lower(): f for f in writable}
        for c in info.range_cols + info.hash_cols:
            nf = writable_lower.get(c.lower())
            old = declared_lower[c.lower()]
            if nf is None or nf.dataType.simpleString() \
                    != old.dataType.simpleString():
                raise ValueError(
                    f"overwriteSchema cannot drop or retype "
                    f"partition/hash column '{c}' — its name and type "
                    "are layout contracts")
        declared = T.StructType(list(writable))
        declared_lower = {f.name.lower(): f for f in declared.fields}
        new_schema_json = declared.json()
    else:
        extra = [f.name for f in writable
                 if f.name.lower() not in declared_lower]
        needs_merge = extra or any(
            f.name.lower() in declared_lower
            and f.dataType != declared_lower[f.name.lower()].dataType
            for f in writable)
        if needs_merge:
            # same evolution rules as the table API (reference
            # SchemaEnforcementSuite batch 'allow schema changes when
            # autoMigrate is enabled'): new columns append nullable,
            # wider numerics upcast. Per-write option mergeSchema
            # OVERRIDES the table property in either direction
            # (reference: writer option beats session conf).
            from starlake_spark.operators.dml import merge_source_schema

            ms = _opt(options, "mergeSchema")
            allow = None if ms is None else str(ms).lower() == "true"
            info = merge_source_schema(schema, store, allow_merge=allow)
            declared = T.StructType.fromJson(json.loads(info.schema_json))
            declared_lower = {f.name.lower(): f for f in declared.fields}
    present_lower = {f.name.lower() for f in writable}
    for c in info.range_cols:
        if c.lower() not in present_lower:
            raise ValueError(f"range partition column '{c}' missing")
    # incoming column → declared type + DECLARED (original-case) name:
    # files always store the declared casing, so a 'Foo' frame appended
    # to a table declaring 'foo' stays one column (CaseSensitivitySuite
    # 'schema merging is case insenstive but preserves original case')
    cast_types = {f.name: declared_lower[f.name.lower()].dataType
                  for f in writable}
    out_names = {f.name: declared_lower[f.name.lower()].name
                 for f in writable}
    return (info, cast_types, out_names, (info if created else None),
            new_schema_json)


def _overwrite_schema_info(store: ManifestStore, schema_json: str):
    """Build (do NOT publish) the overwriteSchema replacement
    TableInfo. The caller attaches it to the data commit's transaction
    (``txn.new_table_info``), so the schema swap and the
    truncate-overwrite's file publish land in ONE atomic commit
    (ManifestStore._publish_version): a commit that fails, conflicts,
    or crashes pre-publish leaves the old schema fully intact — the
    table never serves the new schema over the old data files.
    Dropped-column and rename-alias markers clear — no file of the old
    schema survives a full overwrite. A concurrent ALTER fails the
    schema_version guard inside the publish critical section and
    surfaces as 'Schema has been changed for table' (retryable)."""
    from starlake_spark.meta import TableInfo

    info = TableInfo.from_json(store.table_info(refresh=True).to_json())
    info.schema_json = schema_json
    cfg = {k: v for k, v in (info.configuration or {}).items()
           if k != "dropped.columns" and not k.startswith("aliases.")}
    info.configuration = cfg
    return info


def _write_task_batches(iterator, table_path: str, dir_name: str,
                        cast_types: dict, range_cols: list,
                        out_names: dict | None = None) -> tuple:
    """Task side of the delayed-commit V2 writes: stream Arrow batches
    into per-range parquet files under ``data/<dir_name>/`` (hive
    fragments quoted), casting present columns to their declared
    types. ``out_names`` maps each incoming column to the DECLARED
    (original-case) name it stores under. ``range_cols`` are declared
    names. Returns the relative paths written."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    task_tag = uuid.uuid4().hex[:12]
    writers: dict[tuple, pq.ParquetWriter] = {}
    paths: dict[tuple, str] = {}
    arrow_types = {c: to_arrow_type(t) for c, t in cast_types.items()}
    out_names = out_names or {c: c for c in cast_types}
    inv = {v: k for k, v in out_names.items()}  # declared → incoming
    range_in = [inv.get(rc, rc) for rc in range_cols]
    data_names = [c for c in cast_types if out_names[c] not in range_cols]

    def _open(range_vals: tuple) -> pq.ParquetWriter:
        from urllib.parse import quote

        frag = os.sep.join(f"{c}={quote(str(v), safe='')}" for c, v in
                           zip(range_cols, range_vals))
        rel = os.path.join("data", dir_name,
                           *( [frag] if frag else [] ),
                           f"part-{task_tag}.parquet")
        ap = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(ap), exist_ok=True)
        paths[range_vals] = rel
        schema = pa.schema([(out_names[c], arrow_types[c])
                            for c in data_names])
        return pq.ParquetWriter(ap, schema)

    for batch in iterator:
        tbl = pa.Table.from_batches([batch])
        cols = {c: tbl[c].cast(arrow_types[c]) for c in cast_types}
        data = pa.Table.from_arrays([cols[c] for c in data_names],
                                    names=[out_names[c] for c in data_names])
        if range_cols:
            import pandas as pd

            rdf = pd.DataFrame({c: cols[c].to_pandas() for c in range_in})
            if rdf.isnull().values.any():
                raise ValueError(
                    "NOT NULL invariant violated on a range partition column")
            for key, idx in rdf.groupby(range_in, sort=False).groups.items():
                kv = key if isinstance(key, tuple) else (key,)
                sub = data.take(pa.array(idx.to_numpy()))
                w = writers.get(kv)
                if w is None:
                    w = writers[kv] = _open(kv)
                w.write_table(sub)
        else:
            w = writers.get(())
            if w is None:
                w = writers[()] = _open(())
            w.write_table(data)
    for w in writers.values():
        w.close()
    return tuple(paths.values())


def _collect_file_infos(table_path: str, info, messages, cast_types,
                        out_names: dict | None = None) -> list:
    """Driver side: turn task commit messages into DataFileInfo rows
    with footer stats harvested locally."""
    from starlake_spark.meta import DataFileInfo
    from starlake_spark.operators.writer import _footer_stats

    out_names = out_names or {c: c for c in cast_types}
    exist = [out_names[c] for c in cast_types
             if out_names[c] not in info.range_cols]
    files = []
    for m in messages:
        if m is None:
            continue
        for rel in m.rel_paths:
            from urllib.parse import unquote

            ap = os.path.join(table_path, rel)
            decoded = {}
            for part in rel.split(os.sep):
                if "=" in part and not part.endswith(".parquet"):
                    k, _, v = part.partition("=")
                    decoded[k.lower()] = unquote(v)
            # case-insensitive fragment lookup: after a racing
            # first-write adoption the declared casing can differ from
            # the casing these files' hive fragments were written with
            rv = ",".join(f"{c}={decoded[c.lower()]}"
                          for c in info.range_cols
                          if c.lower() in decoded)
            stats, num_rows = _footer_stats(ap)
            files.append(DataFileInfo(
                path=rel, range_value=rv, bucket_id=-1,
                size=os.path.getsize(ap), write_version=-1,
                is_base_file=True,
                exist_cols=exist,
                stats=stats, num_rows=num_rows))
    return files


def _parse_replace_where(pred_text: str, info):
    """Pure-python replaceWhere evaluator for the V2 write path (no
    SparkSession exists in the DataSource worker): conjunctions of
    ``<range_col> <op> <literal>`` with ops = != < <= > >=, column
    names resolved case-insensitively against the range columns
    (reference 'replaceWhere predicate should be case insensitive').
    Anything richer routes to StarTable.write(replace_where=...), which
    evaluates arbitrary SQL. Returns pred(range_value_str) -> bool."""
    import json as _json
    import re as _re

    import pyspark.sql.types as _T

    schema = _T.StructType.fromJson(_json.loads(info.schema_json))
    types = {f.name: f.dataType for f in schema.fields}
    by_lower = {c.lower(): c for c in info.range_cols}
    atoms = []
    for part in _re.split(r"(?i)\s+and\s+", pred_text.strip()):
        m = _re.match(r"^\s*`?(\w+)`?\s*(<=|>=|!=|<>|=|<|>)\s*"
                      r"('[^']*'|\S+)\s*$", part)
        if not m:
            raise ValueError(
                f"format('star') replaceWhere supports conjunctions of "
                f"<range column> <op> <literal>; got {part!r} — use "
                "StarTable.write(replace_where=...) for arbitrary SQL")
        col, op, lit = m.groups()
        rc = by_lower.get(col.lower())
        if rc is None:
            raise ValueError(
                f"replaceWhere column '{col}' is not a range partition "
                f"column (partitions: {list(info.range_cols)})")
        if lit.startswith("'"):
            val = lit[1:-1]
        else:
            val = lit
        t = types[rc]
        if isinstance(t, (_T.ByteType, _T.ShortType, _T.IntegerType,
                          _T.LongType)):
            cast = int
        elif isinstance(t, (_T.FloatType, _T.DoubleType)):
            cast = float
        elif isinstance(t, _T.DecimalType):
            # lexical comparison would order '10.00' < '9.00' and
            # mismatch '3' vs '3.00' — compare as decimals
            from decimal import Decimal as cast  # noqa: N813
        elif isinstance(t, _T.BooleanType):
            def cast(v):  # noqa: E306
                return str(v).lower() in ("true", "1")
        else:
            cast = str
        atoms.append((rc, op, cast(val), cast))

    def pred(range_value: str) -> bool:
        # keys compare case-insensitively: a range_value built from a
        # different declared casing (first-write adoption) still matches
        vals = {kv.partition("=")[0].lower(): kv.partition("=")[2]
                for kv in range_value.split(",")
                if kv} if range_value else {}
        for rc, op, want, cast in atoms:
            if rc.lower() not in vals:
                return False
            have = cast(vals[rc.lower()])
            ok = {"=": have == want, "!=": have != want,
                  "<>": have != want, "<": have < want,
                  "<=": have <= want, ">": have > want,
                  ">=": have >= want}[op]
            if not ok:
                return False
        return True

    return pred


class _StarBatchWriter(DataSourceArrowWriter):
    """``df.write.format("star").mode("append"|"overwrite").save(path)``
    — the V2 batch write capability (reference StarLakeTableV2
    V1_BATCH_WRITE + TRUNCATE, catalog/StarLakeTableV2.scala:38-141),
    expressed as the same delayed-commit protocol the table API uses:
    every task streams its Arrow batches into parquet under an
    UNPUBLISHED per-commit directory (``data/<commit_id>/``, hive range
    dirs inside), the driver's ``commit()`` harvests footer stats and
    publishes the manifest atomically. A failed job publishes nothing;
    stray files from failed task attempts are invisible until vacuum.

    Non-hash tables only (bucketed layout is a contract arbitrary task
    partitioning can't honor — hash tables write through upsert), and
    tables with CHECK constraints or generated columns route through
    the table API, which enforces them inside the write pass."""

    def __init__(self, table_path: str, schema: T.StructType, overwrite: bool,
                 dynamic_overwrite: bool = False,
                 options: dict | None = None):
        import uuid

        (info, cast_types, out_names, pending,
         new_schema_json) = _validate_write_target(
            table_path, schema, options=options, overwrite=overwrite)
        self.pending_create = pending
        self.new_schema_json = new_schema_json
        if new_schema_json is not None and (
                dynamic_overwrite or _opt(options, "replaceWhere")):
            raise ValueError(
                "overwriteSchema requires a FULL overwrite — it is "
                "mutually exclusive with replaceWhere and "
                "partitionOverwriteMode=dynamic (partial replacement "
                "would leave files of the old schema behind)")
        if dynamic_overwrite and not info.range_cols:
            raise ValueError(
                "partitionOverwriteMode=dynamic requires range partition "
                "columns (an unpartitioned table would degenerate to a "
                "full overwrite — say so explicitly)")
        self.replace_where = _opt(options, "replaceWhere")
        if self.replace_where is not None:
            if not overwrite:
                raise ValueError("replaceWhere requires mode('overwrite')")
            if dynamic_overwrite:
                raise ValueError("replaceWhere and "
                                 "partitionOverwriteMode=dynamic are "
                                 "mutually exclusive")
            # parse now so a bad predicate fails the job before tasks run
            _parse_replace_where(self.replace_where, info)
        self.table_path = table_path
        self.overwrite = overwrite
        self.dynamic_overwrite = dynamic_overwrite
        self.range_cols = list(info.range_cols)
        self.cast_types = cast_types
        self.out_names = out_names
        self.commit_id = uuid.uuid4().hex[:12]

    def write(self, iterator):
        return _WriteMessage(rel_paths=_write_task_batches(
            iterator, self.table_path, self.commit_id,
            self.cast_types, self.range_cols, self.out_names))

    def commit(self, messages):
        # Harvest footer stats ONCE (each info carries a full parquet
        # footer read per file) — the replaceWhere scope check and the
        # manifest publish reuse the same list.
        info = self.pending_create
        if info is None:
            info = ManifestStore(self.table_path).table_info()
        files = _collect_file_infos(self.table_path, info, messages,
                                    self.cast_types, self.out_names)
        pred = None
        if self.replace_where is not None:
            # written rows must fall inside the replaced scope (Delta
            # replaceWhere discipline) — refuse before publishing; on a
            # FIRST write this runs before persisting the create, so a
            # violation leaves no committed empty table + permanent
            # shortTableName registration (the exact orphan the
            # deferred-create design exists to avoid). The files stay
            # unpublished orphans until vacuum.
            pred = _parse_replace_where(self.replace_where, info)
            for f in files:
                if not pred(f.range_value):
                    raise ValueError(
                        f"replaceWhere: written partition "
                        f"'{f.range_value}' is outside the predicate "
                        f"'{self.replace_where}'")
        if self.pending_create is not None:
            _persist_pending_create(self.pending_create)
        store = ManifestStore(self.table_path)
        txn = store.new_transaction()
        if self.new_schema_json is not None:
            txn.new_table_info = _overwrite_schema_info(
                store, self.new_schema_json)
        if pred is not None:
            for rv in txn.read_snapshot.partitions:
                if pred(rv):
                    txn.expire_partition(rv)
        elif self.overwrite and self.dynamic_overwrite:
            # Spark/Delta partitionOverwriteMode=dynamic: replace only
            # the partitions this write landed data in
            for rv in {f.range_value for f in files}:
                txn.expire_partition(rv)
        elif self.overwrite:
            for rv in txn.read_snapshot.partitions:
                txn.expire_partition(rv)
        txn.add_files(files)
        store.commit(txn)

    def abort(self, messages):
        import shutil

        shutil.rmtree(os.path.join(self.table_path, "data", self.commit_id),
                      ignore_errors=True)


class _StarStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("star").start(path)`` — the native
    streaming SINK (reference StarLakeSink.scala:30-96 /
    StreamSinkProvider), with the same exactly-once discipline as the
    foreachBatch sink: each micro-batch commits under the monotonic
    (sink id, batch_id) registry, so a restarted or duplicated batch
    is a no-op and its files stay unpublished orphans until vacuum.
    ``outputMode("complete")`` truncate-replaces per batch. Non-hash
    append tables; hash-table (update-mode, MoR delta) streaming goes
    through streaming.write_stream, which owns the bucketed layout."""

    def __init__(self, table_path: str, schema: T.StructType,
                 overwrite: bool, sink_id: str,
                 options: dict | None = None):
        # streaming appends to hash tables stay refused even on the
        # first commit (the reference's stream path owns bucketing)
        (info, cast_types, out_names, pending,
         new_schema_json) = _validate_write_target(
            table_path, schema, options=options, overwrite=overwrite)
        self.pending_create = pending
        # reference SchemaEnforcementSuite 'complete mode can overwrite
        # schema with option': applied once, at the first batch commit
        self.new_schema_json = new_schema_json
        if info.hash_cols and not overwrite:
            raise ValueError(
                "format('star') streaming append targets non-hash "
                "tables; hash-table streaming goes through "
                "streaming.write_stream (bucketed MoR delta layout)")
        self.table_path = table_path
        self.overwrite = overwrite
        self.range_cols = list(info.range_cols)
        self.cast_types = cast_types
        self.out_names = out_names
        self.sink_id = sink_id

    def write(self, iterator):
        import uuid

        return _WriteMessage(rel_paths=_write_task_batches(
            iterator, self.table_path, f"s{uuid.uuid4().hex[:12]}",
            self.cast_types, self.range_cols, self.out_names))

    def commit(self, messages, batchId):
        from starlake_spark.meta import DuplicateTxnError

        if self.pending_create is not None:
            _persist_pending_create(self.pending_create)
            self.pending_create = None  # later batches: table exists
        store = ManifestStore(self.table_path)
        info = store.table_info()
        txn = store.new_transaction()
        if self.new_schema_json is not None:
            txn.new_table_info = _overwrite_schema_info(
                store, self.new_schema_json)
        files = _collect_file_infos(self.table_path, info, messages,
                                    self.cast_types, self.out_names)
        if self.overwrite:
            for rv in txn.read_snapshot.partitions:
                txn.expire_partition(rv)
        txn.add_files(files)
        txn.set_streaming_batch(self.sink_id, batchId)
        try:
            store.commit(txn)
        except DuplicateTxnError:
            pass  # a retry already landed this batch; files orphan -> vacuum
        # once, on the FIRST SUCCESSFUL commit (a DuplicateTxnError
        # means the earlier attempt of this batch already published it)
        self.new_schema_json = None

    def abort(self, messages, batchId):
        for m in messages or ():
            if m is None:
                continue
            for rel in m.rel_paths:
                try:
                    os.unlink(os.path.join(self.table_path, rel))
                except OSError:
                    pass


class StarDataSource(DataSource):
    """Options: ``path`` (required), ``version`` (batch time travel),
    ``startingVersion`` (stream resume point, default 0 = from table
    creation)."""

    @classmethod
    def name(cls) -> str:
        return "star"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("format('star') requires .load(path) or .option('path', ...)")
        return path

    def _flag(self, name: str) -> bool:
        return str(self.options.get(name, "false")).lower() == "true"

    def schema(self) -> T.StructType:
        base = _table_schema(ManifestStore(self._path()))
        fields = base.fields + [T.StructField(VERSION_COL, T.LongType(), False)]
        if self._flag("changeTypes"):
            fields.append(T.StructField(CHANGE_TYPE_COL, T.StringType(), False))
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        v = self.options.get("version")
        ts = self.options.get("timestampAsOf")
        if v is not None and ts is not None:
            raise ValueError("version and timestampAsOf are mutually exclusive")
        if ts is not None:
            from starlake_spark.table import _to_epoch

            try:
                epoch = float(ts)  # raw epoch seconds
            except ValueError:
                epoch = _to_epoch(ts)  # ISO / datetime string
            v = ManifestStore(self._path()).version_at_timestamp(epoch)
        return _StarBatchReader(self._path(), schema,
                                int(v) if v is not None else None,
                                self.options.get("partition_filter"))

    def writer(self, schema: T.StructType, overwrite: bool) -> DataSourceArrowWriter:
        mode = str(_opt(self.options, "partitionOverwriteMode",
                        "static")).lower()
        if mode not in ("static", "dynamic"):
            raise ValueError(
                f"partitionOverwriteMode must be static or dynamic, got {mode}")
        return _StarBatchWriter(self._path(), schema, overwrite,
                                dynamic_overwrite=(mode == "dynamic"),
                                options=dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        return _StarStreamWriter(self._path(), schema, overwrite,
                                 self.options.get("sinkId", "star-stream-sink"),
                                 options=dict(self.options))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        ts = self.options.get("startingTimestamp")
        if ts is not None and "startingVersion" in self.options:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually exclusive")
        if ts is not None:
            # Delta semantics: begin with the FIRST commit at or after
            # the timestamp (our offsets emit versions > start, so start
            # = that version - 1); a timestamp past the last commit
            # tails from the end instead of failing.
            store = ManifestStore(self._path())
            start = store.latest_version()
            for v in store.list_versions():
                if store._read_version_state(v).get("timestamp", 0.0) \
                        >= float(ts):
                    start = v - 1
                    break
        else:
            start = int(self.options.get("startingVersion", 0))
        mv = self.options.get("maxVersionsPerTrigger")
        mb = self.options.get("maxBytesPerTrigger")
        return _StarStreamReader(self._path(), schema, start,
                                 self.options.get("partition_filter"),
                                 change_types=self._flag("changeTypes"),
                                 ignore_deletes=self._flag("ignoreDeletes"),
                                 with_preimages=self._flag("withPreimages"),
                                 max_versions_per_trigger=(
                                     int(mv) if mv is not None else None),
                                 max_bytes_per_trigger=(
                                     int(mb) if mb is not None else None),
                                 pace_id=self.options.get("paceId"))


def register(spark) -> None:
    """Idempotently register format('star') on this session."""
    spark.dataSource.register(StarDataSource)


def read_star(
    spark,
    path: str,
    version: int | None = None,
    partition_filter: str | None = None,
    with_version_col: bool = False,
):
    """Batch-read a star table snapshot through the JVM parquet scan —
    the HOT path for batch reads.

    The pure-Python ``format("star")`` batch reader above is a
    compatibility surface (it exists so ``spark.read.format("star")``
    works anywhere the session can't import this package's table API);
    it pays per-partition Python workers + Arrow hops, ~10× a JVM scan.
    This function gives the same semantics — pinned snapshot, MoR
    refusal, manifest partition pruning, optional ``_commit_version`` —
    but plans a plain parquet relation, keeping pushdown, pruning and
    whole-stage codegen (same recipe as ``StarTable.to_df``).
    """
    from starlake_spark.operators import reader as rd

    store = ManifestStore(path)
    snap = store.snapshot(version)
    info = store.table_info()
    deltas = [f for f in snap.all_files() if not f.is_base_file]
    if info.hash_cols and deltas:
        raise ValueError(
            "read_star requires an all-base snapshot; "
            f"{len(deltas)} delta files present — run compaction() or "
            "read through StarTable.to_df() for the merge-on-read collapse"
        )
    files = list(snap.all_files())
    dv_infos = [d for ps in snap.partitions.values() for d in ps.dv_files]
    if partition_filter:
        keep = rd._prune_partitions_sql(spark, info, list(snap.partitions),
                                        partition_filter)
        files = [
            f for f in files
            if decode_range_value(f.range_value) in keep
        ]
        dv_infos = [d for ps in snap.partitions.values()
                    if decode_range_value(ps.range_value) in keep
                    for d in ps.dv_files]
    if not files:
        out = rd._empty_df(spark, info)
        return out.withColumn(VERSION_COL, F_lit_long(None)) if with_version_col else out
    if not with_version_col:
        return rd._plain_scan(spark, store, info, files, dv_infos=dv_infos)
    # per-commit groups so _commit_version is a codegen literal per branch
    groups = rd._group_files(files)
    dfs = []
    for (wv, cdir), fs in groups.items():
        d = rd._read_group(spark, store, info, cdir, fs,
                           with_rowid=bool(dv_infos))
        dfs.append(d.withColumn(VERSION_COL, F_lit_long(wv)))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if dv_infos:
        out = rd._apply_dvs(spark, store, out, dv_infos)
    return out


def F_lit_long(v):
    from pyspark.sql import functions as F

    return F.lit(v).cast("long")


def table_changes(spark, path: str, start_version: int = 0,
                  end_version: int | None = None,
                  with_change_type: bool = False,
                  ignore_deletes: bool = False,
                  with_preimages: bool = False,
                  starting_timestamp: float | None = None,
                  ending_timestamp: float | None = None):
    """Batch change-data-feed: rows ADDED in versions
    (start_version, end_version], each tagged with ``_commit_version`` —
    the batch twin of the streaming change-source (same semantics:
    compaction commits are skipped as logically-no-op rewrites, a
    version contributes exactly the files it committed). Planned as a
    JVM parquet scan per commit group, so incremental consumers
    (rollup refresh, downstream sync jobs) read only the delta bytes —
    at 100 TB this is the difference between an incremental pipeline
    and a daily full re-scan.

    ``with_change_type=True`` adds a Delta-CDF-style ``_change_type``
    column (insert / update_postimage / delete) and surfaces
    delete_delta commits as ``delete`` rows: the tombstoned keys with
    data columns null. Without it, a delete_delta commit in range
    RAISES unless ``ignore_deletes=True`` — consumers must explicitly
    choose an append-only view over silently retaining deleted rows.

    ``with_preimages=True`` (requires ``with_change_type``) upgrades
    delta commits on hash tables to FULL-fidelity CDC: each affected
    key emits its merged state at v-1 (``update_preimage`` /
    ``delete`` with real values) and at v (``insert`` /
    ``update_postimage``) — correct even for partial-column upserts
    and merge-operator tables, because both sides come from the MoR
    collapse, not the raw delta file. This is what makes DELETE- and
    UPDATE-aware incremental aggregate maintenance possible
    (plans/incremental.py). Cost: two key-pruned MoR scans per delta
    commit — the storage layer writes O(keys) deltas and the feed pays
    the join, the standard trade when CDC files aren't logged at
    commit time; intended for per-commit incremental consumption."""
    from pyspark.sql import functions as F
    from starlake_spark.operators import reader as rd

    if with_preimages and not with_change_type:
        raise ValueError("with_preimages requires with_change_type=True")
    store = ManifestStore(path)
    # Timestamp window bounds (Delta CDF timestamp parity): starting =
    # include the FIRST commit at or after the timestamp, ending = the
    # LAST commit at or before it — resolved via header-only version
    # reads. Mutually exclusive with the version bounds.
    if starting_timestamp is not None:
        if start_version:
            raise ValueError(
                "start_version and starting_timestamp are mutually exclusive")
        start_version = store.latest_version()
        for v in store.list_versions():
            if store._read_version_state(v).get("timestamp", 0.0) \
                    >= float(starting_timestamp):
                start_version = v - 1
                break
    if ending_timestamp is not None:
        if end_version is not None:
            raise ValueError(
                "end_version and ending_timestamp are mutually exclusive")
        end_version = store.version_at_timestamp(float(ending_timestamp))
    info = store.table_info()
    keys = info.range_cols + info.hash_cols
    end = store.latest_version() if end_version is None else end_version
    dfs = []
    for v in range(start_version + 1, end + 1):
        snap = store.snapshot(v)
        ct = _change_type_for(snap.commit_type)
        if ct is None:
            continue
        if snap.commit_type in ("delete_delta", "delete_dv", "mixed_delta") \
                and not with_change_type:
            if not ignore_deletes:
                raise ValueError(
                    f"table_changes hit a {snap.commit_type} commit at "
                    f"version {v}: downstream would silently retain deleted "
                    "rows. Pass with_change_type=True to receive delete "
                    "rows, or ignore_deletes=True to acknowledge an "
                    "append-only view")
            if snap.commit_type != "mixed_delta":
                continue
            # mixed commit under ignore_deletes: postimages still flow;
            # tombstone rows are filtered in the generic path below
        if snap.commit_type in ("delete_dv", "update_dv"):
            # deletion-vector commits: vectored rows are the exact
            # deleted/pre-update rows — emit them via a semi-join of the
            # pre-existing files against the vectors committed at v.
            # update_dv postimages are ordinary added files (generic
            # path below); preimages only under with_preimages.
            if snap.commit_type == "delete_dv" or with_preimages:
                dv_new = [d for ps in snap.partitions.values()
                          for d in ps.dv_files if d.write_version == v]
                dv_rvs = {d.range_value for d in dv_new}
                cand = [f for rv2 in dv_rvs
                        for f in snap.partitions[rv2].files
                        if f.write_version < v]
                if dv_new and cand:
                    # raw pre-files (no anti filter — the semi below
                    # selects exactly the newly vectored rows)
                    pre = rd._plain_scan(spark, store, info, cand,
                                         with_rowid=True)
                    dvp = [p if os.path.isabs(p)
                           else os.path.join(store.table_path, p)
                           for p in (d.path for d in dv_new)]
                    dvf = spark.read.parquet(*dvp).select(rd.DV_FID,
                                                          rd.DV_POS)
                    rows = (pre.join(F.broadcast(dvf),
                                     [rd.DV_FID, rd.DV_POS], "left_semi")
                            .drop(rd.DV_FID, rd.DV_POS)
                            .withColumn(VERSION_COL, F_lit_long(v)))
                    if with_change_type:
                        rows = rows.withColumn(
                            CHANGE_TYPE_COL,
                            F.lit("delete"
                                  if snap.commit_type == "delete_dv"
                                  else "update_preimage"))
                    dfs.append(rows)
            if snap.commit_type == "delete_dv":
                continue
        new_files = [f for f in snap.all_files() if f.write_version == v]
        if not new_files:
            continue
        if (with_preimages and info.hash_cols
                and snap.commit_type in ("delta", "delete_delta",
                                         "mixed_delta")):
            # write-time CDC log (cdf.enabled): this commit's change
            # rows were already materialized — read O(changes) bytes
            # instead of re-deriving with two key-pruned MoR scans.
            # Missing log (disabled / crashed writer / vacuumed) falls
            # back to the derivation, which stays the source of truth.
            from starlake_spark.operators.dml import read_cdc_log

            logged = read_cdc_log(spark, store, info, v)
            if logged is not None:
                dfs.append(logged)
            else:
                p_snap, c_snap = _pruned_boundaries(
                    store.snapshot(v - 1), snap, new_files)
                dfs.extend(_preimage_changes(
                    spark, store, info, keys, v - 1, v, v, new_files,
                    pre_snap=p_snap, cur_snap=c_snap))
            continue
        for (wv, cdir), fs in rd._group_files(new_files).items():
            d = rd._read_group(spark, store, info, cdir, fs)
            mixed_label = False
            if rd.TOMBSTONE_COL in d.columns:
                tombc = F.coalesce(F.col(rd.TOMBSTONE_COL), F.lit(False))
                if snap.commit_type == "mixed_delta":
                    if with_change_type:
                        # per-row label below: tombstones are the deletes
                        d = d.withColumn("_sl_tomb_", tombc)
                        mixed_label = True
                    else:
                        d = d.filter(~tombc)  # ignore_deletes view
                d = d.drop(rd.TOMBSTONE_COL)
            d = d.withColumn(VERSION_COL, F_lit_long(wv))
            if with_change_type:
                if mixed_label:
                    d = (d.withColumn(CHANGE_TYPE_COL,
                                      F.when(F.col("_sl_tomb_"),
                                             F.lit("delete"))
                                       .otherwise(F.lit(ct)))
                          .drop("_sl_tomb_"))
                else:
                    d = d.withColumn(CHANGE_TYPE_COL, F.lit(ct))
            dfs.append(d)
    if not dfs:
        out = rd._empty_df(spark, info).withColumn(VERSION_COL, F_lit_long(None))
        if with_change_type:
            out = out.withColumn(CHANGE_TYPE_COL, F.lit(None).cast("string"))
        return out
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def range_changes(spark, path: str, start_version: int,
                  end_version: int | None = None):
    """COALESCED full-fidelity CDC for one commit window on a hash
    table: the net state diff between ``start_version`` and
    ``end_version`` for every key touched in between — exactly TWO
    key-pruned MoR scans regardless of how many commits accumulated
    (intermediate churn cancels: a key upserted 5 times emits one
    update pair; inserted-then-deleted emits nothing). This is the
    refresh shape for incremental consumers that only need net change
    (aggregate maintenance, sync jobs); use ``table_changes`` when the
    per-commit history matters. Rows tag ``_commit_version`` =
    end_version.

    The affected-key set is read from the SYMMETRIC DIFFERENCE of the
    two boundary snapshots' file sets — every possible state change
    (delta upsert, tombstone delete, CoW rewrite incl. whole-partition
    deletes, compaction, even RESTORE) manifests as a file-set change,
    and keys in files present on both sides are untouched by
    definition. Caveat: files expired in the window must still exist
    on disk (cleanup retention ≫ refresh cadence); a vacuumed file
    raises at read time — callers fall back to a rebuild."""
    from starlake_spark.operators import reader as rd

    store = ManifestStore(path)
    info = store.table_info()
    if not info.hash_cols:
        raise ValueError("range_changes requires a hash-partitioned table "
                         "(key-level diffs need merge keys)")
    keys = info.range_cols + info.hash_cols
    end = store.latest_version() if end_version is None else end_version
    start_snap, end_snap = store.snapshot(start_version), store.snapshot(end)
    sf = {f.path: f for f in start_snap.all_files()}
    ef = {f.path: f for f in end_snap.all_files()}
    touched = ([f for p, f in ef.items() if p not in sf]
               + [f for p, f in sf.items() if p not in ef])
    if not touched:
        out = rd._empty_df(spark, info).withColumn(VERSION_COL, F_lit_long(None))
        return out.withColumn(CHANGE_TYPE_COL,
                              F_lit_str_null())
    pre_snap, cur_snap = _pruned_boundaries(start_snap, end_snap, touched)
    dfs = _preimage_changes(spark, store, info, keys, start_version, end,
                            end, touched, pre_snap=pre_snap,
                            cur_snap=cur_snap)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def F_lit_str_null():
    from pyspark.sql import functions as F

    return F.lit(None).cast("string")


def _pruned_boundaries(pre, cur, touched):
    """CELL PRUNING for a window's two boundary MoR scans: a hash
    key's every version lives in ONE (range partition, hash bucket)
    cell — range_value is part of the key and bucket_id =
    pmod(hash(hash cols), bucket_num) is commit-invariant — so every
    key touched in the window sits in the cells of the touched files,
    and files in other cells cannot contribute rows to the
    key-semi-joined scans. Without this the preimage read plans O(all
    table files) per window; with it the whole window is O(touched
    cells). Returns (None, None) — scans stay full — if any file lacks
    a real bucket id."""
    if not all(f.bucket_id >= 0
               for s in (pre, cur) for f in s.all_files()):
        return None, None
    cells = {(f.range_value, f.bucket_id) for f in touched}
    return _prune_cells(pre, cells), _prune_cells(cur, cells)


def _prune_cells(snap, cells):
    """Sub-snapshot keeping only files in the given (range_value,
    bucket_id) cells. Hash-table MoR collapse is per key and a key's
    versions never leave their cell, so scanning the sub-snapshot
    yields exactly the full scan's rows for keys living in ``cells``.
    (Hash tables carry no deletion-vector sidecars — DVs are the
    non-hash delete path — so dropping a cell drops no DV state.)"""
    from starlake_spark.meta import PartitionSnapshot, Snapshot

    parts = {}
    for rv, ps in snap.partitions.items():
        keep = [f for f in ps.files if (rv, f.bucket_id) in cells]
        if keep:
            parts[rv] = PartitionSnapshot(rv, keep, ps.last_update_version,
                                          dv_files=list(ps.dv_files))
    return Snapshot(version=snap.version, partitions=parts,
                    streaming=snap.streaming, timestamp=snap.timestamp,
                    commit_type=snap.commit_type,
                    schema_json=snap.schema_json,
                    last_info_commit=snap.last_info_commit,
                    last_info_version=snap.last_info_version)


def _preimage_changes(spark, store, info, keys, v_pre, v_cur, tag_version,
                      new_files, pre_snap=None, cur_snap=None):
    """Full-fidelity change rows for a commit window: the window's
    affected KEY SET (read cheaply from the raw delta/tombstone files —
    keys only) prunes two MoR scans, at ``v_pre`` and ``v_cur``; a
    single FULL OUTER join on the keys classifies each key once —
    insert (pre side absent), delete (cur side absent), no-op (both
    sides equal on every column — dropped, so logically-no-op rewrites
    contribute nothing) or an update pre/post pair (emitted by
    exploding a two-element array) — every row carrying real merged
    values. One job graph end-to-end: the old derivation built the four
    change classes as separate join branches over localCheckpoint'd
    intermediates (~20 Spark jobs per logged commit); this plan is the
    dominant fixed cost of a ``cdf.enabled`` DML commit, so it must be
    one pass. Used per-commit by the feed (v_pre = v-1, v_cur = v) and
    over the whole range by ``range_changes`` (intermediate churn
    cancels in the state diff). Returns a single-element list (callers
    union the elements)."""
    from pyspark.sql import functions as F
    from starlake_spark.operators import reader as rd

    kdf = _window_key_frame(spark, store, info, keys, new_files)
    prev = rd.scan(spark, store, version=v_pre, snapshot=pre_snap,
                   schema_as_of=False).join(kdf, keys, "left_semi")
    cur = rd.scan(spark, store, version=v_cur, snapshot=cur_snap,
                  schema_as_of=False).join(kdf, keys, "left_semi")
    out_cols = list(prev.columns)
    data_cols = [c for c in out_cols if c not in keys]
    # presence flags live OUTSIDE the _p_/_c_ alias namespace, so a
    # data column literally named "has" cannot collide with them; a
    # (pathological) KEY column with the flag's own name still could —
    # guard explicitly rather than corrupt the feed
    P_HAS, C_HAS = "_sl_p_present", "_sl_c_present"
    if P_HAS in keys or C_HAS in keys:
        raise ValueError(f"key column collides with the internal CDC "
                         f"presence flags ({P_HAS}/{C_HAS}); rename it")

    # one parsed SQL string per projection instead of one py4j Column
    # construction per column: this plan is built fresh for every CDC
    # window (feed, range_changes, MV/rollup refresh, index sync), so
    # its construction chatter is per-refresh driver fixed cost
    # (optimization round 11; the r10 invariant-guard rewrite, same
    # reasoning)
    def bt(name):
        return "`" + name.replace("`", "``") + "`"

    def sq(name):
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    p = prev.selectExpr(*[bt(k) for k in keys],
                        *[f"{bt(c)} AS {bt('_p_' + c)}"
                          for c in data_cols],
                        f"TRUE AS {bt(P_HAS)}")
    c = cur.selectExpr(*[bt(k) for k in keys],
                       *[f"{bt(c)} AS {bt('_c_' + c)}"
                         for c in data_cols],
                       f"TRUE AS {bt(C_HAS)}")
    j = p.join(c, keys, "full_outer")
    same = " AND ".join(f"({bt('_p_' + col)} <=> {bt('_c_' + col)})"
                        for col in data_cols) or "TRUE"
    both = f"({bt(P_HAS)} IS NOT NULL AND {bt(C_HAS)} IS NOT NULL)"
    j = j.filter(f"NOT ({both} AND ({same}))")  # no-op pairs: no change
    if data_cols:
        pre_row = ("named_struct(" + ", ".join(
            f"{sq(col)}, {bt('_p_' + col)}" for col in data_cols) + ")")
        post_row = ("named_struct(" + ", ".join(
            f"{sq(col)}, {bt('_c_' + col)}" for col in data_cols) + ")")

        def ev(ct, row):
            return f"named_struct('ct', '{ct}', 'row', {row})"

        events = (
            f"CASE WHEN {bt(P_HAS)} IS NULL THEN "
            f"array({ev('insert', post_row)}) "
            f"WHEN {bt(C_HAS)} IS NULL THEN "
            f"array({ev('delete', pre_row)}) "
            f"ELSE array({ev('update_preimage', pre_row)}, "
            f"{ev('update_postimage', post_row)}) END")
        out = (j.selectExpr(*[bt(k) for k in keys],
                            f"explode({events}) AS _e")
                .select(*keys, "_e.row.*",
                        F_lit_long(tag_version).alias(VERSION_COL),
                        F.col("_e.ct").alias(CHANGE_TYPE_COL)))
    else:
        # key-only table: updates are impossible (both-present rows are
        # always no-ops, filtered above) — classify insert vs delete
        out = j.selectExpr(
            *[bt(k) for k in keys],
            f"CAST({tag_version if tag_version is not None else 'NULL'} "
            f"AS BIGINT) AS {bt(VERSION_COL)}",
            f"CASE WHEN {bt(P_HAS)} IS NULL THEN 'insert' "
            f"ELSE 'delete' END AS {bt(CHANGE_TYPE_COL)}")
    return [out.select(*out_cols, VERSION_COL, CHANGE_TYPE_COL)]


def _window_key_frame(spark, store, info, keys, new_files):
    """DISTINCT merge keys of a window's raw delta/tombstone files.
    One schema-pinned parquet relation over every file when the keys
    are physically present at their declared types in every commit
    (hash tables — the manifest-listed exist_cols and the cached
    footers prove it); else the per-group union (range keys live in
    dir names, odd shapes keep the alias-aware path). Keys-only read
    schema ⇒ column pruning reaches the parquet scan either way."""
    from pyspark.sql import types as T

    from starlake_spark.operators import reader as rd

    groups = rd._group_files(new_files)
    flat_ok = not info.range_cols and len(groups) > 1
    if flat_ok:
        schema = rd._schema(info)
        declared = {f.name: f.dataType for f in schema.fields}
        key_fields = []
        for k in keys:
            key_fields.append(T.StructField(k, declared[k], True))
        for fs in groups.values():
            if not set(keys) <= set(fs[0].exist_cols):
                flat_ok = False
                break
            fa = fs[0].path if os.path.isabs(fs[0].path) else \
                os.path.join(store.table_path, fs[0].path)
            ps = rd._file_spark_schema(fa)
            if ps is None:
                flat_ok = False
                break
            have = {f.name: f.dataType for f in ps.fields}
            if not all(have.get(k) is not None
                       and have[k].simpleString()
                       == declared[k].simpleString() for k in keys):
                flat_ok = False
                break
    if flat_ok:
        paths = [f.path if os.path.isabs(f.path)
                 else os.path.join(store.table_path, f.path)
                 for f in new_files]
        return (spark.read.schema(T.StructType(key_fields))
                .parquet(*paths).distinct())
    kdf = None
    for (_wv, cdir), fs in groups.items():
        d = rd._read_group(spark, store, info, cdir, fs).select(*keys)
        kdf = d if kdf is None else kdf.unionByName(d)
    return kdf.distinct()
