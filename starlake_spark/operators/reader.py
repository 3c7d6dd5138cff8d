"""Snapshot scans: plain parquet fast path + merge-on-read key collapse.

Reference parity: catalog/StarLakeScanBuilder.scala:99-158 chooses one
of four physical scans; the decision collapses to two DataFrame recipes
here (SURVEY §2.1):

* **plain scan** — partition has a single committed file-version (all
  base, or exactly one commit): read the parquet files directly. This
  keeps the whole Catalyst fast path: parquet filter pushdown, column
  pruning, partition pruning, whole-stage codegen.
* **MoR scan** — partition carries delta files from several commits:
  union the per-commit file groups with their commit version attached,
  then collapse per primary key with ``groupBy(range+hash keys)`` where
  each column takes its value from the highest version whose files
  physically contain the column (``file_exist_cols`` semantics of
  MergeParquetScan.scala:128-138,246-255), explicit nulls included —
  via ``max_by`` over a per-group constant version column, or a merge
  operator (starlake_spark.merge_ops) instead of last-wins.

The reference does the same collapse with a per-bucket k-way heap merge
(v2/merge/parquet/MergeHeap.java, MergeMultiFileWithOperator.scala:35-196)
because its files are bucket-sorted; Spark's hash aggregate gives the
identical result order-insensitively, spills natively, and is split
across executors by AQE. Partitions that need no merge are unioned in
via the plain path so compacted data never pays the shuffle.

Scale note: the MoR groupBy shuffles only the *un-compacted* partitions'
bytes on the hash keys. Regular compaction (CompactionCommand analogue)
keeps that fraction small; the reference relies on the same discipline
(delta_file_num trigger = 5, StarLakeSQLConf.scala:41-45).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from starlake_spark import merge_ops as mo
from starlake_spark.local import local_df
from starlake_spark.meta import (
    DataFileInfo,
    ManifestStore,
    Snapshot,
    TableInfo,
    decode_range_value,
)

_WV = "_star_wv"
_ORD = "_star_ord_"  # per-column merge ordering prefix
# physical flag column in tombstone delta files (delta DELETE path):
# collapses last-wins per key, true ⇒ the key is filtered from the scan
TOMBSTONE_COL = "_star_tombstone"


def _schema(info: TableInfo) -> T.StructType:
    return T.StructType.fromJson(json.loads(info.schema_json))


def alias_map(info: TableInfo) -> dict[str, list[str]]:
    """Historical physical names per logical column (RENAME COLUMN
    name-mapping, the Delta column-mapping 'name mode' analog): the
    table property ``aliases.<logical-lower>`` lists the names a
    column's bytes were written under before the rename(s). Readers
    resolve per FILE GROUP — a group physically carrying an alias
    serves it under the current logical name; groups written after the
    rename carry the logical name directly. Empty for tables that
    never renamed (the common case costs one dict probe)."""
    out: dict[str, list[str]] = {}
    for k, v in (info.configuration or {}).items():
        if k.startswith("aliases."):
            out[k[len("aliases."):]] = [a for a in v.split(",") if a]
    return out


def _resolve_physical(name: str, present, amap: dict[str, list[str]]):
    """The physical column serving logical ``name`` in a file group
    with columns/exist-cols ``present``, or None.

    Precedence: exact match → rename-alias map → case-insensitive
    fallback. The alias map outranks the case-insensitive probe: an
    adopted file may carry a physical column that case-collides with a
    logical name whose bytes actually live under a rename alias —
    picking the case-collider would serve the wrong column's data.
    An ambiguous case-insensitive match (two physical columns differing
    only in case, neither exact nor aliased) raises instead of silently
    picking whichever iterates first."""
    if name in present:
        return name
    low = name.lower()
    for a in amap.get(low, ()):
        if a in present:
            return a
    # case-insensitive direct match (CaseSensitivitySuite: resolution
    # is case-insensitive, files keep their original casing) — a file
    # whose physical casing diverged from the declared name must still
    # serve the column, not silently null-backfill
    cands = [p for p in present if p.lower() == low]
    if len(cands) > 1:
        raise ValueError(
            f"ambiguous case-insensitive resolution for column '{name}': "
            f"file carries {sorted(cands)}; rename one or declare an "
            f"alias (aliases.{low})")
    return cands[0] if cands else None


def _empty_df(spark: SparkSession, info: TableInfo) -> DataFrame:
    return local_df(spark, [], _schema(info))


def _group_files(files: list[DataFileInfo]) -> dict[tuple[int, str], list[DataFileInfo]]:
    """Group by (write_version, commit data dir) — one group per commit.
    Writer-produced paths look like data/<commit_id>/[range dirs/]part-
    *.parquet; ADOPTED files (convert_to_star) live outside data/ and
    group under the table root, whose hive dirs (if any) recover the
    range columns via basePath exactly like a commit dir's do."""
    groups: dict[tuple[int, str], list[DataFileInfo]] = defaultdict(list)
    for f in files:
        parts = f.path.split(os.sep)
        if os.path.isabs(f.path):
            # shallow-clone reference into the SOURCE table: group by
            # the source commit dir (last .../data/<commit>/ segment)
            # so hive range dirs under it resolve against basePath
            data_idx = [i for i, p in enumerate(parts[:-1]) if p == "data"]
            if data_idx and data_idx[-1] + 1 < len(parts) - 0:
                commit_dir = os.sep.join(parts[:data_idx[-1] + 2])
            else:
                commit_dir = os.path.dirname(f.path)
        elif parts[0] == "data" and len(parts) > 2:
            commit_dir = os.sep.join(parts[:2])
        else:
            commit_dir = ""  # adopted/loose file: table root is the base
        groups[(f.write_version, commit_dir)].append(f)
    return groups


# Committed commit groups are IMMUTABLE, so their inferred parquet
# schema is too: cache it keyed by (table id, commit dir, file set) and
# pass it explicitly on repeat reads. Plan-time footer schema inference
# costs ~100 ms of py4j + footer I/O per group per scan — on a table
# with N delta groups every MoR plan construction paid N inferences,
# the dominant fixed cost of DML/CDC entries (profiled: one scan's
# CONSTRUCTION was 2-3× its execution). Bounded LRU-ish; entries are
# tiny StructTypes.
_GROUP_SCHEMA_CACHE: dict[tuple, "T.StructType"] = {}
_GROUP_SCHEMA_CACHE_MAX = 4096


# Flat-scan gate: physical parquet schema per file, mapped to Spark
# types (driver-side pyarrow footer read, ~ms on local disk — the same
# footer the writer already stat-harvested). Cached forever: committed
# files are immutable. None ⇒ the file's arrow schema has no clean
# Spark mapping (fall back to per-group reads).
_FILE_SCHEMA_CACHE: dict[str, "T.StructType | None"] = {}
_FILE_SCHEMA_CACHE_MAX = 65536


def _file_spark_schema(abs_path: str) -> "T.StructType | None":
    if abs_path in _FILE_SCHEMA_CACHE:
        return _FILE_SCHEMA_CACHE[abs_path]
    out: "T.StructType | None"
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        pa_schema = pq.ParquetFile(abs_path).schema_arrow
        # prefer_timestamp_ntz: a tz-naive parquet timestamp
        # (isAdjustedToUTC=false — what Spark writes for TimestampNTZ
        # columns) must map to timestamp_ntz, exactly as Spark's own
        # scan inference does; tz-aware stays TimestampType
        out = T.StructType([
            T.StructField(f.name,
                          from_arrow_type(f.type,
                                          prefer_timestamp_ntz=True),
                          True)
            for f in pa_schema])
    except Exception:  # unmappable type / unreadable footer → fallback
        out = None
    if len(_FILE_SCHEMA_CACHE) >= _FILE_SCHEMA_CACHE_MAX:
        _FILE_SCHEMA_CACHE.pop(next(iter(_FILE_SCHEMA_CACHE)))
    _FILE_SCHEMA_CACHE[abs_path] = out
    return out


# The flat scan reconstructs range values and commit dirs from
# `_metadata.file_path`. Two encodings sit between the raw partition
# value and that path: the writer hive-escapes special bytes in the
# DIR NAME ('%' → %25, ':' → %3A, ...; space stays literal), and the
# path column is then the URI-encoded form of the disk name (space →
# %20, '%' → %25, ...; '+' stays literal). Both are plain %XX escapes,
# so ``_decoded`` (one url_decode with a literal '+' protected first —
# URLDecoder would otherwise turn it into a space) inverts one layer;
# range values apply it twice, the commit-dir lookup (no hive layer)
# once. Gate still refuses values a manifest range_value cannot
# represent unambiguously (',' is its segment separator) and column
# names that are not regex-literal safe.
_RV_SAFE = re.compile(r"^[^,]+$")
_COL_SAFE = re.compile(r"^[A-Za-z0-9_]+$")
_PCT = re.compile(r"%([0-9A-Fa-f]{2})")
# _flat_read_plan's cost gate: shallow histories whose average commit
# group exceeds this many bytes keep the union path; at this depth the
# union's plan size wins regardless of bytes.
FLAT_SCAN_AVG_GROUP_BYTES = 8 << 20
FLAT_SCAN_DEEP_GROUPS = 24


def _decoded(col: "F.Column") -> "F.Column":
    return F.url_decode(F.regexp_replace(col, "[+]", "%2B"))


def _unescape_path(s: str) -> str:
    """Driver-side inverse of the writer's hive dir-name escaping
    (plain %XX only — no '+' handling)."""
    return _PCT.sub(lambda m: chr(int(m.group(1), 16)), s)


def _flat_read_plan(store: ManifestStore, info: TableInfo, groups: dict,
                    per_row_cost: bool = True,
                    ) -> "tuple[T.StructType, dict, bool] | None":
    """Gate + inputs for the single-read scan of every commit group at
    once (optimization round 10): returns ``(read_schema, dir→version
    map, any_tomb)`` when ALL groups can be served by ONE parquet
    relation with an explicit schema — every declared column present
    under its declared name and exact physical type in every group (no
    renames, no type widening, no nested evolution, no extra live
    columns), and every group's files mapping to one distinct version.
    The tombstone flag column may appear in any subset of groups (the
    reader backfills null ⇒ not tombstoned). None ⇒ caller takes the
    per-group union path, which handles every evolution case.

    Range-partitioned histories (round 11): the hive dirs live UNDER
    each commit dir, which Spark's partition discovery rejects as
    conflicting roots across commits — so the flat relation reads with
    ``recursiveFileLookup`` (no discovery at all) and reconstructs each
    range column from ``_metadata.file_path`` with one regexp per
    column. That reconstruction is only byte-exact when the column
    names and partition values are invariant under both hive escaping
    and the file-path URI encoding (``_RV_SAFE`` — dates, ints, plain
    strings; anything else refuses). The returned ``read_schema``
    covers only the PHYSICAL columns; callers add the range columns
    via ``_flat_range_exprs``.

    Scale note: this is the plan-size lever for MoR reads — the union
    path plans O(commit groups) parquet relations per scan while this
    plans exactly one, so plan analysis, py4j chatter and codegen stay
    O(1) as a partition's delta history grows.
    """
    if info.range_cols and not all(_COL_SAFE.match(c)
                                   for c in info.range_cols):
        return None
    if per_row_cost or info.range_cols:
        # The flat relation derives the commit version / range values
        # from _metadata.file_path PER ROW, while the union path gets
        # them as per-branch literals / partition metadata. Cost model
        # (measured, round 11): union ≈ groups × plan cost
        # (~0.1-0.3 s each), flat overhead ≈ rows × ~0.25 s/M. So the
        # flat path engages for delta-shaped histories (small average
        # group — refresh windows, CDC boundaries, commit storms) and
        # for DEEP histories (where union's plan size is the cliff the
        # fast path exists to remove), but hands row-heavy shallow
        # scans back to the union path.
        total = sum(f.size for fs in groups.values() for f in fs)
        if (len(groups) < FLAT_SCAN_DEEP_GROUPS
                and total > FLAT_SCAN_AVG_GROUP_BYTES * len(groups)):
            return None
    schema = _schema(info)
    declared = {f.name: f.dataType for f in schema.fields}
    expected = set(declared) - set(info.range_cols)
    keys = set(info.range_cols) | set(info.hash_cols)
    any_tomb = False
    dir_wv: dict[str, int] = {}
    seen_wv: set[int] = set()
    absent: dict[str, set] = {}
    for (wv, _cdir), fs in groups.items():
        exist = set(fs[0].exist_cols)
        has_tomb = TOMBSTONE_COL in exist
        any_tomb |= has_tomb
        present = exist - {TOMBSTONE_COL}
        if not (present <= expected):
            return None  # renamed / dropped / extra live column
        if not (keys - set(info.range_cols) <= present):
            return None  # merge keys must exist in every commit
        for c in expected - present:
            # partial-column commit (round 11): the column reads as
            # NULL from this group's files via the explicit schema;
            # the merge path nulls its ORDERING on these versions so
            # "absent = keep existing" survives (exactly the union
            # path's per-branch null-ordering literal)
            absent.setdefault(c, set()).add(wv)
        d = None
        for f in fs:
            fa = f.path if os.path.isabs(f.path) else \
                os.path.join(store.table_path, f.path)
            fd = os.path.dirname(fa)
            if info.range_cols:
                # every file must sit under exactly the hive dirs its
                # manifest range_value declares (dir segments unescape
                # to the raw values) — the commit dir is what remains
                # above them
                segs = f.range_value.split(",") if f.range_value else []
                if len(segs) != len(info.range_cols):
                    return None
                parts = fd.split("/")
                if len(parts) <= len(segs):
                    return None
                dsegs = parts[-len(segs):]
                ok = True
                for c, seg, dseg in zip(info.range_cols, segs, dsegs):
                    name, eq, val = seg.partition("=")
                    dname, deq, dval = dseg.partition("=")
                    if (name != c or dname != c or not eq or not deq
                            or not _RV_SAFE.match(val)
                            or _unescape_path(dval) != val):
                        ok = False
                        break
                if not ok:
                    return None
                fd = "/".join(parts[: -len(segs)])
            if d is None:
                d = fd
            elif fd != d:
                return None  # nested layout: dir→version map ambiguous
        if d in dir_wv and dir_wv[d] != wv:
            return None
        if wv in seen_wv:
            return None  # equal-version groups: keep union-path order
        seen_wv.add(wv)
        dir_wv[d] = wv
        first = fs[0].path
        first_abs = first if os.path.isabs(first) else \
            os.path.join(store.table_path, first)
        ps = _file_spark_schema(first_abs)
        if ps is None:
            return None
        have = {f.name: f.dataType for f in ps.fields}
        for n, dt in declared.items():
            if n in info.range_cols or n not in present:
                continue  # path-reconstructed / null-backfilled
            h = have.get(n)
            if h is None or h.simpleString() != dt.simpleString():
                return None
        if has_tomb and not isinstance(have.get(TOMBSTONE_COL),
                                       (T.BooleanType, type(None))):
            return None
    fields = [T.StructField(f.name, f.dataType, True, f.metadata)
              for f in schema.fields if f.name not in info.range_cols]
    if any_tomb:
        fields.append(T.StructField(TOMBSTONE_COL, T.BooleanType(), True))
    return T.StructType(fields), dir_wv, any_tomb, absent


def _flat_reader(spark: SparkSession, info: TableInfo,
                 read_schema: "T.StructType"):
    """The single-relation reader for a flat scan: plain for hash-only
    tables; ``recursiveFileLookup`` for range layouts so Spark skips
    partition discovery entirely (which would reject hive dirs nested
    under per-commit dirs as conflicting roots)."""
    reader = spark.read.schema(read_schema)
    if info.range_cols:
        reader = reader.option("recursiveFileLookup", "true")
    return reader


def _norm_path_col() -> "F.Column":
    return F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")


def _flat_range_exprs(info: TableInfo,
                      declared: dict) -> "list[F.Column]":
    """Range columns rebuilt from the file path: one regexp per column
    (gate guarantees URI/hive-invariant values), NULL for the hive
    default-partition sentinel, cast to the declared type — the same
    cast an explicit read schema would apply to the dir value."""
    out = []
    # extract against the RAW path — the '/col=value/' pattern is
    # scheme-agnostic, so the per-row normalization regex is skipped
    p = F.col("_metadata.file_path")
    for c in info.range_cols:
        # decode twice: URI layer (path column), then the writer's
        # hive dir-name escaping — both plain %XX (see _decoded)
        raw = _decoded(_decoded(
            F.regexp_extract(p, "/" + c + "=([^/]+)/", 1)))
        v = (F.when((raw == "") | (raw == "__HIVE_DEFAULT_PARTITION__"),
                    F.lit(None))
             .otherwise(raw).cast(declared[c]))
        out.append(v.alias(c))
    return out


def _flat_version_col(dir_wv: dict[str, int],
                      strip_levels: int = 1) -> "F.Column":
    """Per-row commit version from the file's directory: drop the
    basename (plus one level per range column — hive dirs sit between
    the file and its commit dir), look the directory up in a tiny
    literal map (one entry per commit group — bounded by the
    compaction trigger, so the per-row lookup scans a handful of
    entries).

    Per-row cost matters here — this expression runs once per ROW of
    every flat MoR scan. The segment strip is substring arithmetic
    (``substring_index``), NOT a backtracking regex (a
    ``(/[^/]+){k}$`` replace measured ~0.8 s per million rows), and
    the scheme prefix is handled by keying the map under the plain,
    ``file:`` and ``file://`` renderings of each dir instead of
    normalizing the path per row. An exotic scheme falls back —
    per-row lazily, via coalesce — to the normalized slow form rather
    than silently missing the map."""
    pairs = []
    for d, wv in dir_wv.items():
        for k in (d, "file:" + d, "file://" + d):
            pairs += [F.lit(k), F.lit(int(wv))]
    m = F.create_map(*pairs)
    p = F.col("_metadata.file_path")
    stripped = F.expr(
        "substring(_metadata.file_path, 1, "
        "length(_metadata.file_path) - "
        f"length(substring_index(_metadata.file_path, '/', -{strip_levels}))"
        " - 1)")
    slow = _decoded(F.regexp_replace(
        _norm_path_col(), "(/[^/]+){%d}$" % strip_levels, ""))
    return F.coalesce(F.element_at(m, _decoded(stripped)),
                      F.element_at(m, slow))


def _nested_evolves(have: "T.DataType", want: "T.DataType") -> bool:
    """True iff ``want`` equals ``have`` plus ADDED nested struct fields
    — the shape ALTER ADD COLUMNS into complex types produces
    (AlterTableTests.scala:114-313). Such a type cannot be ``cast``
    (Spark refuses struct casts of differing arity) but CAN be
    requested directly from the parquet reader, which backfills the
    missing nested fields with null natively."""
    if isinstance(have, T.StructType) and isinstance(want, T.StructType):
        w = {f.name.lower(): f.dataType for f in want.fields}
        return all(f.name.lower() in w
                   and _nested_evolves(f.dataType, w[f.name.lower()])
                   for f in have.fields)
    if isinstance(have, T.ArrayType) and isinstance(want, T.ArrayType):
        return _nested_evolves(have.elementType, want.elementType)
    if isinstance(have, T.MapType) and isinstance(want, T.MapType):
        return (_nested_evolves(have.keyType, want.keyType)
                and _nested_evolves(have.valueType, want.valueType))
    return have.simpleString() == want.simpleString()


def _read_group(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    commit_dir: str,
    files: list[DataFileInfo],
    with_rowid: bool = False,
) -> DataFrame:
    """Read one commit's files. basePath recovers range partition columns
    from the hive-style directory layout.

    ``with_rowid`` appends the deletion-vector identity columns —
    ``_star_fid`` (the file's scheme-stripped absolute path) and
    ``_star_pos`` (``_metadata.row_index``, the file-stable physical
    row position) — used both to APPLY deletion vectors (anti-join)
    and to RECORD them (DV delete's position capture reads through
    this same path, so build and probe can never disagree on
    identity)."""
    base = os.path.join(store.table_path, commit_dir)
    paths = [os.path.join(store.table_path, f.path) for f in files]
    reader = spark.read
    if info.range_cols:
        reader = reader.option("basePath", base)
    cache_key = (info.table_id, store.table_path, commit_dir,
                 bool(info.range_cols),
                 tuple(sorted(f.path for f in files)))
    file_schema = _GROUP_SCHEMA_CACHE.get(cache_key)
    if file_schema is not None:
        df = reader.schema(file_schema).parquet(*paths)
    else:
        df = reader.parquet(*paths)
        file_schema = df.schema
        if len(_GROUP_SCHEMA_CACHE) >= _GROUP_SCHEMA_CACHE_MAX:
            _GROUP_SCHEMA_CACHE.pop(next(iter(_GROUP_SCHEMA_CACHE)))
        _GROUP_SCHEMA_CACHE[cache_key] = file_schema
    # Align to declared types (partition-dir values are type-inferred);
    # renamed columns resolve their file-local physical name via the
    # alias map (zero cost when the table never renamed).
    schema = _schema(info)
    declared = {f.name: f.dataType for f in schema.fields}
    # Nested schema evolution: columns whose declared type ADDS nested
    # struct fields over the file's type are re-requested at the
    # declared type — the parquet reader backfills the new nested
    # fields with null (a cast would throw: struct arity differs).
    # Case-INSENSITIVE match, like merge/alias/fast-path: a file whose
    # struct column differs only in case from the declared name must
    # still take the parquet-level backfill, not the cast path.
    declared_ci = {f.name.lower(): f.dataType for f in schema.fields}
    adj, nested_evo = [], False
    for f in file_schema.fields:
        want = declared_ci.get(f.name.lower())
        if want is not None \
                and f.dataType.simpleString() != want.simpleString() \
                and isinstance(f.dataType,
                               (T.StructType, T.ArrayType, T.MapType)) \
                and _nested_evolves(f.dataType, want):
            adj.append(T.StructField(f.name, want, True, f.metadata))
            nested_evo = True
        else:
            adj.append(f)
    if nested_evo:
        file_schema = T.StructType(adj)
        df = reader.schema(file_schema).parquet(*paths)
    # Fast path: the group's physical schema already carries every
    # declared column under its declared name and type (no rename, no
    # evolution gap, no tombstones, no rowid request) — a bare column
    # reorder instead of len(schema) cast/alias Column constructions
    # (each ~3 py4j round-trips; this chatter is plan-construction
    # fixed cost on every scan of every group).
    if not with_rowid and TOMBSTONE_COL not in file_schema.fieldNames():
        have = {f.name: f.dataType for f in file_schema.fields}
        if all(have.get(n) is not None
               and have[n].simpleString() == t.simpleString()
               for n, t in declared.items()):
            return df.select(*[f.name for f in schema.fields])
    amap = alias_map(info)
    present = set(df.columns)
    cols = []
    for name in [f.name for f in schema.fields]:
        phys = _resolve_physical(name, present, amap)
        if phys is not None:
            have_t = next((f.dataType for f in file_schema.fields
                           if f.name == phys), None)
            if have_t is not None and \
                    have_t.simpleString() == declared[name].simpleString():
                # types match up to nullability: no cast. (Casting also
                # BREAKS nested nullability narrowing — parquet reads
                # arrays as containsNull=true, and Spark refuses
                # array<t, true> → array<t, false> even when declared
                # that way, e.g. a materialized collect_list column.)
                col = F.col(phys)
            else:
                col = F.col(phys).cast(declared[name])
            cols.append(col.alias(name))
        else:
            cols.append(F.lit(None).cast(declared[name]).alias(name))
    if TOMBSTONE_COL in df.columns:
        cols.append(F.col(TOMBSTONE_COL).cast("boolean").alias(TOMBSTONE_COL))
    if with_rowid:
        # scheme-stripped ABSOLUTE path: hive-partitioned writes reuse
        # one basename across partition dirs (part-00000-<job-uuid> in
        # every dir task 0 wrote), so only the full path is unique
        cols.append(F.regexp_replace(
            F.col("_metadata.file_path"), "^file:/+", "/").alias(DV_FID))
        cols.append(F.col("_metadata.row_index").alias(DV_POS))
    return df.select(*cols)


# deletion-vector identity columns (sidecar schema AND scan-side names)
DV_FID = "_star_fid"
DV_POS = "_star_pos"


def _apply_dvs(spark: SparkSession, store: ManifestStore,
               out: DataFrame, dv_infos: list[DataFileInfo],
               keep_rowid: bool = False) -> DataFrame:
    """Anti-join the scan against its partitions' deletion vectors.
    DVs are tiny relative to the data (positions only) — broadcast
    below the session threshold so the anti-join is a map-side probe,
    never a full shuffle of the fact scan."""
    paths = [p if os.path.isabs(p) else os.path.join(store.table_path, p)
             for p in (d.path for d in dv_infos)]
    dv = spark.read.parquet(*paths).select(DV_FID, DV_POS)
    thr = _broadcast_threshold(spark)
    if 0 < sum(d.size for d in dv_infos) <= max(thr, 64 << 20):
        dv = F.broadcast(dv)
    out = out.join(dv, [DV_FID, DV_POS], "left_anti")
    return out if keep_rowid else out.drop(DV_FID, DV_POS)


def _plain_scan(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    files: list[DataFileInfo],
    dv_infos: list[DataFileInfo] | None = None,
    with_rowid: bool = False,
) -> DataFrame:
    need_id = bool(dv_infos) or with_rowid
    groups = _group_files(files)
    if not need_id and len(groups) > 1:
        # one parquet relation for every commit group (gate:
        # _flat_read_plan) — no version attribution needed here, each
        # partition holds a single final version, so the only fast-path
        # extra is refusing tombstone files (single-version tombstone
        # groups must keep the union path's column surface)
        # no version column here — hash-only plain scans carry zero
        # per-row path work, so only range reconstruction gates on size
        flat = _flat_read_plan(store, info, groups, per_row_cost=False)
        if flat is not None and not flat[2]:
            read_schema, _dir_wv, _, _absent = flat
            paths = [f.path if os.path.isabs(f.path)
                     else os.path.join(store.table_path, f.path)
                     for f in files]
            schema = _schema(info)
            u = _flat_reader(spark, info, read_schema).parquet(*paths)
            declared = {f.name: f.dataType for f in schema.fields}
            rng_exprs = dict(zip(info.range_cols,
                                 _flat_range_exprs(info, declared)))
            cols = [rng_exprs.get(f.name, F.col(f.name))
                    for f in schema.fields]
            return u.select(*cols)
    dfs = [
        _read_group(spark, store, info, cdir, fs, with_rowid=need_id)
        for (_wv, cdir), fs in groups.items()
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if dv_infos:
        out = _apply_dvs(spark, store, out, dv_infos, keep_rowid=with_rowid)
    return out


def _collapse(u: DataFrame, schema: T.StructType, keys: list[str],
              merge_operators: dict, ordering, tomb: bool) -> DataFrame:
    """The keyed MoR collapse both ``_merge_scan`` inputs share: each
    data column takes its value at the highest ``ordering(name)`` (a
    merge operator folds the version-sorted (v, x) list instead), the
    tombstone flag is last-wins on the commit version, and tombstoned
    keys drop out. ``ordering`` is NULL on commits whose files lack the
    column, so max_by and the when-collect skip them."""
    aggs = []
    for f in schema.fields:
        if f.name in keys:
            continue
        ordc = ordering(f.name)
        op = merge_operators.get(f.name)
        if op is None:
            aggs.append(F.max_by(F.col(f.name), ordc).alias(f.name))
        else:
            versions = F.sort_array(F.collect_list(
                F.when(ordc.isNotNull(), F.struct(
                    ordc.alias("v"), F.col(f.name).alias("x")))))
            aggs.append(op.column(versions, f.dataType)
                        .cast(f.dataType).alias(f.name))
    if tomb:
        aggs.append(F.max_by(F.coalesce(F.col(TOMBSTONE_COL),
                                        F.lit(False)), F.col(_WV))
                    .alias(TOMBSTONE_COL))
    merged = u.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    if tomb:
        merged = merged.filter(~F.col(TOMBSTONE_COL))
    return merged.select(*[F.col(f.name) for f in schema.fields])


def _merge_scan(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    files: list[DataFileInfo],
    merge_operators: dict[str, mo.MergeOperator],
) -> DataFrame:
    schema = _schema(info)
    keys = info.range_cols + info.hash_cols
    groups = _group_files(files)
    flat = _flat_read_plan(store, info, groups)
    if flat is not None:
        # Single-relation MoR collapse: one parquet scan + a version
        # column derived from each file's commit dir feed the keyed
        # aggregation directly.
        read_schema, dir_wv, f_tomb, absent = flat
        paths = [f.path if os.path.isabs(f.path)
                 else os.path.join(store.table_path, f.path)
                 for f in files]
        declared = {f.name: f.dataType for f in schema.fields}
        extra = _flat_range_exprs(info, declared)
        extra.append(_flat_version_col(
            dir_wv, strip_levels=1 + len(info.range_cols))
            .cast("long").alias(_WV))
        u = (_flat_reader(spark, info, read_schema).parquet(*paths)
             .select("*", *extra))

        def _ord(col_name):
            # NULL on the commits where the column is absent — the
            # single-relation equivalent of the union path's
            # per-branch null-ordering literal
            miss = absent.get(col_name)
            if not miss:
                return F.col(_WV)
            return F.when(~F.col(_WV).isin(*[int(v) for v in miss]),
                          F.col(_WV))

        return _collapse(u, schema, keys, merge_operators, _ord, f_tomb)
    data_cols = [f.name for f in schema.fields if f.name not in keys]
    branches = []
    amap = alias_map(info)
    any_tomb = any(TOMBSTONE_COL in fs[0].exist_cols for fs in groups.values())
    for (wv, cdir), fs in groups.items():
        exist = set(fs[0].exist_cols)
        d = _read_group(spark, store, info, cdir, fs)
        # Per-column ordering: the commit version if this commit's files
        # contain the column (under its current or a pre-rename name),
        # else null (so max_by / collect skip it). These are constant
        # per branch — pure codegen literals. One select, not a
        # withColumn per column: each withColumn is a py4j round trip
        # and an analyzer pass, which at ~10 data columns dominates
        # plan-build latency.
        extra = [F.lit(wv).cast("long").alias(_WV)]
        for c in data_cols:
            ordv = (F.lit(wv).cast("long")
                    if _resolve_physical(c, exist, amap) is not None
                    else F.lit(None).cast("long"))
            extra.append(ordv.alias(_ORD + c))
        has_tomb = TOMBSTONE_COL in d.columns
        if any_tomb and not has_tomb:
            # every branch asserts an opinion on liveness: tombstone
            # files carry the physical flag (true), everything else
            # injects a literal false — last version wins below, so a
            # later upsert resurrects a deleted key (with nulls for
            # columns the tombstone blanked, the insert-after-delete
            # semantics)
            extra.append(F.lit(False).alias(TOMBSTONE_COL))
        keep = [c for c in d.columns
                if any_tomb or c != TOMBSTONE_COL]
        branches.append(d.select(*keep, *extra))

    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return _collapse(u, schema, keys, merge_operators,
                     lambda c: F.col(_ORD + c), any_tomb)


def _eval_part_rhs_py(rhs: str, dtype):
    """Python value of a partition-predicate RHS, or ``_FALLBACK``.
    Beyond plain literals, evaluates the literal-argument function
    forms the generated-column translator emits (to_date / year /
    ISO-prefix substring / date_format) — all prefix/extractions of an
    ISO literal, so the value falls out of string slicing."""
    rhs = rhs.strip()
    v = _parse_lit_py(rhs, dtype)
    if v is not _FALLBACK:
        return v
    m = re.fullmatch(r"to_date\(\s*(?:TIMESTAMP\s*|DATE\s*)?'([^']+)'\s*\)",
                     rhs, re.IGNORECASE)
    if m and isinstance(dtype, T.DateType):
        return m.group(1)[:10]
    m = re.fullmatch(r"year\(\s*(?:TIMESTAMP\s*|DATE\s*)?'(\d{4})[^']*'\s*\)",
                     rhs, re.IGNORECASE)
    if m and isinstance(dtype, (T.ShortType, T.IntegerType, T.LongType)):
        return int(m.group(1))
    m = re.fullmatch(
        r"substring\(\s*CAST\(\s*(?:TIMESTAMP\s*|DATE\s*)?'([^']+)'\s+AS\s+"
        r"STRING\s*\)\s*,\s*1\s*,\s*(\d+)\s*\)", rhs, re.IGNORECASE)
    if m and isinstance(dtype, T.StringType):
        return m.group(1)[:int(m.group(2))]
    m = re.fullmatch(
        r"date_format\(\s*(?:TIMESTAMP\s*|DATE\s*)?'([^']+)'\s*,\s*"
        r"'(yyyy(?:-MM(?:-dd(?: HH)?)?)?)'\s*\)", rhs, re.IGNORECASE)
    if m and isinstance(dtype, T.StringType):
        return m.group(1)[:len(m.group(2))]
    return _FALLBACK


def _try_prune_partitions_python(info, rows: list[dict],
                                 predicate: str) -> list[dict] | None:
    """Pure-Python partition-predicate evaluation, or None to use the
    Spark path. UNLIKE stats skipping this result is exactness-
    critical (replaceWhere expires exactly the matching partitions),
    so the ENTIRE predicate must decompose into supported AND-ed
    conjuncts — any OR / NOT / unknown form / unparseable literal
    bails instead of approximating."""
    types = {f.name: f.dataType for f in _schema(info).fields}
    checks = []
    for c in _split_top_and(predicate):
        # the generated-column translator emits backtick-quoted
        # identifiers; unquote simple ones so the conjunct regexes match
        c = re.sub(r"`(\w+)`", r"\1", c).strip()
        while c.startswith("(") and c.endswith(")"):
            inner = c[1:-1]
            if _split_top_and(inner) == [inner.strip()]:
                c = inner.strip()
            else:
                break
        if re.search(r"\bOR\b", c, re.IGNORECASE):
            return None
        mnull = _IS_NULL_RE.match(c)
        if mnull:
            col, neg = mnull.group(1), bool(mnull.group(2))
            if col not in info.range_cols:
                return None
            checks.append(("null", col, neg))
            continue
        mi = _IN_LIST_RE.match(c)
        if mi:
            col, body = mi.group(1), mi.group(2)
            if col not in info.range_cols or col not in types:
                return None
            vals = [_eval_part_rhs_py(x, types[col])
                    for x in body.split(",") if x.strip()]
            if not vals or any(v is _FALLBACK for v in vals):
                return None
            checks.append(("in", col, set(map(str, vals))
                           if isinstance(types[col], T.DateType)
                           else set(vals)))
            continue
        m = _CONJ_CMP_RE.match(c)
        if not m:
            return None
        col, op, rhs = m.group(1), m.group(2), m.group(3)
        if col not in info.range_cols or col not in types:
            return None
        v = _eval_part_rhs_py(rhs, types[col])
        if v is _FALLBACK:
            return None
        checks.append(("cmp", col, (op, v)))

    def _coerce(col, raw):
        dt = types[col]
        if raw is None:
            return None
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(raw) if re.fullmatch(r"[+-]?\d+", raw) else _FALLBACK
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            try:
                return float(raw)
            except ValueError:
                return _FALLBACK
        if isinstance(dt, T.DateType):
            return raw if re.fullmatch(r"\d{4}-\d{2}-\d{2}", raw) else _FALLBACK
        if isinstance(dt, T.StringType):
            return raw if raw.isascii() else _FALLBACK
        return _FALLBACK

    out = []
    for r in rows:
        keep = True
        for kind, col, payload in checks:
            val = _coerce(col, r.get(col))
            if val is _FALLBACK:
                return None
            if kind == "null":
                if (val is None) == payload:  # payload=True means NOT NULL
                    keep = False
                    break
                continue
            if val is None:
                keep = False  # SQL: comparison/IN with NULL is never true
                break
            if kind == "in":
                if val not in payload:
                    keep = False
                    break
                continue
            op, v = payload
            try:
                ok = (val == v if op in ("=", "==") else
                      val > v if op == ">" else val >= v if op == ">=" else
                      val < v if op == "<" else val <= v)
            except TypeError:
                return None
            if not ok:
                keep = False
                break
        if keep:
            out.append(r)
    return out


def _prune_partitions_sql(spark, info, range_values: list[str], predicate: str) -> list[dict]:
    """Evaluate a SQL predicate over the partition values (as a tiny
    DataFrame, cast to the table's range-column types) and return the
    decoded dicts of matching partitions. The Python fast path above
    answers first when the whole predicate is exactly evaluable
    in-process — partition pruning then costs zero Spark jobs."""
    range_cols = info.range_cols
    schema = _schema(info)
    types = {f.name: f.dataType for f in schema.fields}
    rows = [decode_range_value(rv) for rv in range_values]
    if not rows:
        return []
    fast = _try_prune_partitions_python(info, rows, predicate)
    if fast is not None:
        return fast
    pdf = local_df(spark,
        [[r.get(c) for c in range_cols] for r in rows],
        T.StructType([T.StructField(c, T.StringType()) for c in range_cols]),
    )
    for c in range_cols:
        pdf = pdf.withColumn(c, F.col(c).cast(types.get(c, T.StringType())))
    kept = pdf.filter(F.expr(predicate)).collect()
    keep_keys = {tuple(str(r[c]) for c in range_cols) for r in kept}
    return [r for r in rows if tuple(str(r.get(c)) for c in range_cols) in keep_keys]


def _generated_translator(gexpr: str):
    """(source_col, λ literal → partition-side SQL) for a MONOTONE
    generated-column expression, else None. Every supported form is a
    floor/prefix function of its input, so ``src >= L`` implies
    ``g >= f(L)`` — Delta's generated-column partition-pruning rule
    across the common time-partitioning layouts. date_format patterns
    qualify only when chronological prefixes of ISO order (yyyy,
    yyyy-MM, ...); month()/day() alone are cyclic, NOT monotone, and
    deliberately absent."""
    m = re.fullmatch(r"\s*to_date\(\s*([A-Za-z_]\w*)\s*\)\s*", gexpr, re.IGNORECASE)
    if m:
        return m.group(1), lambda l: f"to_date({l})"
    m = re.fullmatch(r"\s*cast\(\s*([A-Za-z_]\w*)\s+as\s+date\s*\)\s*",
                     gexpr, re.IGNORECASE)
    if m:
        return m.group(1), lambda l: f"to_date({l})"
    m = re.fullmatch(r"\s*date_trunc\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)\s*",
                     gexpr, re.IGNORECASE)
    if m and m.group(1).upper() in (
            "YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND"):
        unit = m.group(1)
        return m.group(2), lambda l, u=unit: f"date_trunc('{u}', {l})"
    m = re.fullmatch(r"\s*year\(\s*([A-Za-z_]\w*)\s*\)\s*", gexpr, re.IGNORECASE)
    if m:
        return m.group(1), lambda l: f"year({l})"
    m = re.fullmatch(r"\s*substr(?:ing)?\(\s*([A-Za-z_]\w*)\s*,\s*1\s*,\s*(\d+)\s*\)\s*",
                     gexpr, re.IGNORECASE)
    if m:
        n = int(m.group(2))
        return m.group(1), lambda l, n=n: f"substring(CAST({l} AS STRING), 1, {n})"
    m = re.fullmatch(
        r"\s*date_format\(\s*([A-Za-z_]\w*)\s*,\s*"
        r"'(yyyy(?:-MM(?:-dd(?: HH)?)?)?)'\s*\)\s*", gexpr, re.IGNORECASE)
    if m:
        fmt = m.group(2)
        return m.group(1), lambda l, f_=fmt: f"date_format({l}, '{f_}')"
    return None


def _generated_conjuncts(info, where_conjs: list[str]) -> list[str]:
    """Translate predicates on a generated column's SOURCE into
    partition conjuncts on the generated column: with day = to_date(ts)
    (or date_trunc / year / ISO-prefix substring / date_format — every
    monotone form _generated_translator knows), ``ts >= L`` implies
    ``day >= f(L)`` — so queries that only mention ts still prune
    directories. Equality maps to partition equality; strict
    comparisons widen to the containing bucket (safe: pruning keeps a
    superset, rows re-filter later)."""
    out = []
    gen = {k[len("generated."):]: v
           for k, v in (info.configuration or {}).items()
           if k.startswith("generated.")}
    for gcol, gexpr in gen.items():
        if gcol not in info.range_cols:
            continue
        tr = _generated_translator(gexpr)
        if tr is None:
            continue  # non-monotone / unrecognized: no translation
        src, fn = tr
        for c in where_conjs:
            mc = _CONJ_CMP_RE.match(c)
            if not mc or mc.group(1) != src:
                continue
            lit = mc.group(3).strip()
            if _IDENT_RE.search(lit) and not re.match(
                    r"^\s*(DATE|TIMESTAMP)\b", lit, re.IGNORECASE):
                continue
            op = {"<": "<=", "<=": "<=", ">": ">=", ">=": ">=",
                  "=": "=", "==": "="}[mc.group(2)]
            out.append(f"`{gcol}` {op} {fn(lit)}")
    return out


_IN_LIST_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s+IN\s*\(([^()]*)\)\s*$", re.IGNORECASE)
_IS_NULL_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE)
_CONJ_CMP_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s*(<=|>=|==|=|<|>)\s*([^<>=]+?)\s*$")
# c LIKE 'prefix%' with a pure literal prefix (no wildcards/escapes/
# quotes inside): prunable as the string range [prefix, prefix+1)
_LIKE_PREFIX_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s+LIKE\s+'([^'%_\\]+)%'\s*$", re.IGNORECASE)
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _like_prefix_upper(prefix: str) -> str | None:
    """Exclusive upper bound of the strings matching ``prefix%``:
    prefix with its last character incremented. None when the last
    char can't be safely incremented (non-ASCII tail — bail rather
    than reason about UTF-8 edge cases)."""
    last = prefix[-1]
    if not prefix.isascii() or ord(last) >= 0x7E:
        return None
    return prefix[:-1] + chr(ord(last) + 1)


_MAX_LOOKUP_COMBOS = 64


# ---------------------------------------------------------------------------
# Murmur3_x86_32 — bit-exact twin of Spark's hash() for the types bucket
# lookups use (int-likes, long, string), so probe planning computes its
# bucket WITHOUT a JVM round trip. Guava/Spark variant: 4-byte blocks
# little-endian, signed tail bytes, seed chains across columns, nulls
# skipped. Differentially pinned against F.hash in test_plan_hygiene.
# ---------------------------------------------------------------------------

def _mmh3_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    return (k1 * 0x1B873593) & 0xFFFFFFFF


def _mmh3_mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _mmh3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    return h1 ^ (h1 >> 16)


def _mmh3_int(v: int, seed: int) -> int:
    return _mmh3_fmix(_mmh3_mix_h1(seed, _mmh3_mix_k1(v & 0xFFFFFFFF)), 4)


def _mmh3_long(v: int, seed: int) -> int:
    h1 = _mmh3_mix_h1(seed, _mmh3_mix_k1(v & 0xFFFFFFFF))
    h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1((v >> 32) & 0xFFFFFFFF))
    return _mmh3_fmix(h1, 8)


def _mmh3_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    aligned = n - n % 4
    h1 = seed
    for i in range(0, aligned, 4):
        word = int.from_bytes(data[i:i + 4], "little", signed=True)
        h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1(word & 0xFFFFFFFF))
    for i in range(aligned, n):
        b = data[i]
        half = b - 256 if b >= 128 else b  # Java signed byte
        h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1(half & 0xFFFFFFFF))
    return _mmh3_fmix(h1, n)


def _spark_hash_py(values: list, dtypes: list) -> int | None:
    """Spark ``hash(cols...)`` (seed 42, seed-chained columns) for
    int-like/long/string values, or None when a type is outside the
    supported envelope. Returns the SIGNED 32-bit result."""
    h = 42
    for v, dt in zip(values, dtypes):
        if v is None:
            continue  # null columns leave the running hash unchanged
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            h = _mmh3_int(int(v), h)
        elif isinstance(dt, T.LongType):
            h = _mmh3_long(int(v), h)
        elif isinstance(dt, T.StringType):
            s = str(v)
            if not s.isascii():
                return None  # stay off UTF-8 edge cases; JVM path handles
            h = _mmh3_bytes(s.encode("utf-8"), h)
        else:
            return None
    return h - (1 << 32) if h >= (1 << 31) else h


def _parse_bucket_lit(lit: str, dtype):
    """Literal → python value for _spark_hash_py; _FALLBACK when the
    (literal, type) pair needs Spark's cast semantics."""
    lit = lit.strip()
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if re.fullmatch(r"[+-]?\d+", lit):
            return int(lit)
        if lit.startswith("'") and lit.endswith("'") \
                and re.fullmatch(r"[+-]?\d+", lit[1:-1]):
            return int(lit[1:-1])  # CAST('5' AS INT)
        return _FALLBACK
    if isinstance(dtype, T.StringType):
        if lit.startswith("'") and lit.endswith("'"):
            return lit[1:-1].replace("''", "'")
        return _FALLBACK
    return _FALLBACK


def _buckets_for_lookup(spark, info: TableInfo,
                        conjuncts: list[str]) -> set[int] | None:
    """Bucket ids when EVERY hash column is pinned to literal(s) —
    the reference's bucket pruning (ParquetScanSuite point lookups),
    extended to IN-lists: the writer places a key's rows in bucket
    pmod(hash(keys), n) via repartition's HashPartitioning, so a point
    lookup needs exactly one bucket's files per partition and a
    ``k IN (a, b, c)`` lookup at most three. Buckets are computed by
    Spark itself over the SAME murmur3 hash() the shuffle used, with
    literals cast to the declared column types (hash(5) != hash(5L) —
    the cast is load-bearing). Returns None (no pruning) when any hash
    column is unpinned or the value-combination count exceeds
    ``_MAX_LOOKUP_COMBOS`` (a wide IN-list reads most buckets anyway).
    """
    if info.bucket_num <= 0 or not info.hash_cols:
        return None
    schema_types = {f.name: f.dataType for f in _schema(info).fields}

    def _is_literal(x: str) -> bool:
        return not _IDENT_RE.search(x) or bool(re.match(
            r"^\s*(DATE|TIMESTAMP|TRUE|FALSE)\b", x, re.IGNORECASE))

    lits: dict[str, list[str]] = {}
    for c in conjuncts:
        m = _CONJ_CMP_RE.match(c)
        if m:
            col, op, lit = m.group(1), m.group(2), m.group(3)
            if op in ("=", "==") and col in info.hash_cols and _is_literal(lit):
                lits[col] = [lit]
            continue
        mi = _IN_LIST_RE.match(c)
        if mi and mi.group(1) in info.hash_cols:
            items = [x.strip() for x in mi.group(2).split(",") if x.strip()]
            if items and all(_is_literal(x) for x in items):
                # equality beats IN when both pin the column (narrower)
                lits.setdefault(mi.group(1), items)
    if set(lits) != set(info.hash_cols):
        return None
    n_combos = 1
    for v in lits.values():
        n_combos *= len(v)
    if n_combos > _MAX_LOOKUP_COMBOS:
        return None
    import itertools

    combos = list(itertools.product(*[lits[c] for c in info.hash_cols]))
    dtypes = [schema_types[c] for c in info.hash_cols]

    # fast path: compute the writer's murmur3 in-process (bit-exact
    # twin, differentially pinned) — probe planning then needs no JVM
    # round trip at all
    parsed = [[_parse_bucket_lit(lit, dt) for lit, dt in zip(combo, dtypes)]
              for combo in combos]
    if all(v is not _FALLBACK for vals in parsed for v in vals):
        out = set()
        ok = True
        for vals in parsed:
            h = _spark_hash_py(vals, dtypes)
            if h is None:
                ok = False
                break
            out.add(h % info.bucket_num)
        if ok:
            return out or None

    selects = []
    for combo in combos:
        args = ", ".join(
            f"CAST({lit} AS {schema_types[c].simpleString()})"
            for c, lit in zip(info.hash_cols, combo))
        selects.append(f"SELECT pmod(hash({args}), {info.bucket_num}) AS b")
    rows = spark.sql(" UNION ALL ".join(selects)).collect()
    out = {int(r["b"]) for r in rows if r["b"] is not None}
    return out or None


def _split_top_and(pred: str) -> list[str]:
    """Split on AND at paren depth 0, respecting single-quoted strings."""
    parts, buf, depth, i, n = [], [], 0, 0, len(pred)
    while i < n:
        ch = pred[i]
        if ch == "'":
            j = i + 1
            while j < n and pred[j] != "'":
                j += 1
            buf.append(pred[i:j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and re.match(r"\bAND\b", pred[i:i + 4], re.IGNORECASE) \
                and (i == 0 or not pred[i - 1].isalnum()):
            parts.append("".join(buf))
            buf = []
            i += 3
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_LITERAL = r"(?:'[^']*'|[^\s()']+)"


def _conjuncts(pred: str) -> list[str]:
    """Top-level AND-split of a predicate for pruning purposes.
    Conjuncts the analyzer can't handle (ORs, function calls, NOT, …)
    are simply dropped from the skipping decision — correctness never
    depends on this: skipping uses a SUBSET of the conjuncts and the
    full predicate is always re-applied row-level. BETWEEN normalizes
    to a comparison pair first (so its inner AND doesn't split it)."""
    pred = re.sub(
        rf"\b([A-Za-z_]\w*)\s+BETWEEN\s+({_LITERAL})\s+AND\s+({_LITERAL})",
        r"\1 >= \2 AND \1 <= \3", pred, flags=re.IGNORECASE)
    # A depth-0 OR makes the ROOT a disjunction (AND binds tighter), so
    # AND-splitting would promote an OR-arm's local conjunct to a global
    # one and prune rows the other arm keeps — a row-loss bug, caught by
    # test_skipping_property. The whole predicate is then analyzable
    # only as a single-column OR-of-equalities (→ IN); anything else
    # contributes nothing to skipping.
    if _has_top_level_or(pred):
        whole = _or_equalities_to_in(pred)
        return [whole] if whole is not None else []
    out = []
    for c in _split_top_and(pred):
        if re.search(r"\bOR\b", c, re.IGNORECASE):
            # single-column OR-of-equalities is just an IN list —
            # normalize so the IN pruners (stats, partition, bucket)
            # all fire; any other OR stays unanalyzable (dropped)
            as_in = _or_equalities_to_in(c)
            if as_in is not None:
                out.append(as_in)
            continue
        # NOT is unanalyzable except the IS NOT NULL form, which the
        # null-count skipper understands
        if re.search(r"\bNOT\b", c, re.IGNORECASE) and not _IS_NULL_RE.match(c):
            continue
        out.append(c)
    return out


def _has_top_level_or(pred: str) -> bool:
    """True iff an OR token occurs at paren depth 0 outside quotes."""
    depth, i, n = 0, 0, len(pred)
    while i < n:
        ch = pred[i]
        if ch == "'":
            j = i + 1
            while j < n and pred[j] != "'":
                j += 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and pred[i:i + 2].upper() == "OR"
                and (i == 0 or not (pred[i - 1].isalnum() or pred[i - 1] == "_"))
                and (i + 2 >= n or not (pred[i + 2].isalnum() or pred[i + 2] == "_"))):
            return True
        i += 1
    return False


def _or_equalities_to_in(c: str) -> str | None:
    """``a = 1 OR a = 2`` (optionally parenthesized, = or IN arms) →
    ``a IN (1, 2)`` when every top-level OR arm pins the SAME column;
    None otherwise."""
    s = c.strip()
    while s.startswith("(") and s.endswith(")"):
        inner = s[1:-1].strip()
        # only strip when the parens wrap the WHOLE expression
        depth = 0
        ok = True
        for ch in inner:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    ok = False
                    break
        if not ok or depth != 0:
            break
        s = inner
    arms = re.split(r"\bOR\b", s, flags=re.IGNORECASE)
    if len(arms) < 2 or any(re.search(r"[()]", a) for a in arms):
        return None
    if any(a.count("'") % 2 for a in arms):
        return None  # the split cut through a quoted literal
    col = None
    vals: list[str] = []
    for a in arms:
        m = _CONJ_CMP_RE.match(a)
        if not m or m.group(2) not in ("=", "=="):
            mi = _IN_LIST_RE.match(a)
            if mi is None:
                return None
            acol, items = mi.group(1), [
                x.strip() for x in mi.group(2).split(",") if x.strip()]
        else:
            acol, items = m.group(1), [m.group(3)]
        if col is None:
            col = acol
        elif acol != col:
            return None
        vals.extend(items)
    if col is None or not vals:
        return None
    return f"{col} IN ({', '.join(vals)})"


_FALLBACK = object()  # sentinel: python literal parse refused, use Spark


def _parse_lit_py(lit: str, dtype) -> object:
    """Parse a SQL literal for pure-Python stats comparison, or
    ``_FALLBACK`` when Python comparison can't be trusted to match
    Spark's coercion for this (literal, type) pair. Deliberately
    narrow: integers/floats for numeric columns, ASCII strings,
    ISO dates and space-separated ISO timestamps (the exact format
    ``_json_safe_stat`` writes, where lexicographic == chronologic)."""
    lit = lit.strip()
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType)):
        if re.fullmatch(r"[+-]?\d+", lit):
            return int(lit)
        if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", lit):
            return float(lit)
        return _FALLBACK
    if isinstance(dtype, T.StringType):
        if lit.startswith("'") and lit.endswith("'"):
            v = lit[1:-1].replace("''", "'")
            return v if v.isascii() else _FALLBACK
        return _FALLBACK
    if isinstance(dtype, T.DateType):
        m = re.fullmatch(r"(?:DATE\s*)?'(\d{4}-\d{2}-\d{2})'", lit,
                         re.IGNORECASE)
        return m.group(1) if m else _FALLBACK
    if isinstance(dtype, T.TimestampType):
        m = re.fullmatch(
            r"(?:TIMESTAMP\s*)?'(\d{4}-\d{2}-\d{2})"
            r"(?:[ T](\d{2}:\d{2}:\d{2}(?:\.\d+)?))?'", lit, re.IGNORECASE)
        if not m:
            return _FALLBACK
        return f"{m.group(1)} {m.group(2) or '00:00:00'}"
    return _FALLBACK


def _stat_ok_py(v, dtype) -> bool:
    """Is this manifest stat value comparable in Python against a
    ``_parse_lit_py`` literal of the same column type?"""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType)):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(dtype, T.StringType):
        return isinstance(v, str) and v.isascii()
    if isinstance(dtype, (T.DateType, T.TimestampType)):
        return isinstance(v, str) and "+" not in v
    return False


def _try_prune_python(info, files, conjuncts, allowed_cols):
    """Pure-Python evaluation of the stats-skipping decision — the
    hot-path twin of the Spark evaluation below, for the literal
    shapes ``_parse_lit_py`` accepts. Returns None when ANY analyzable
    conjunct involves a type/literal outside that envelope (decimals,
    booleans, non-ASCII strings, exotic formats), in which case the
    caller runs the Spark-coercion path. Point lookups and time-range
    scans hit this path, saving a driver-side Spark job PER SCAN —
    at one scan per CDC window / probed key, those jobs dominate."""
    schema_types = {f.name: f.dataType for f in _schema(info).fields}
    checks = []  # (kind, col, payload)
    for c in conjuncts:
        mn_ = _IS_NULL_RE.match(c)
        if mn_:
            col, neg = mn_.group(1), bool(mn_.group(2))
            if col in allowed_cols and col in schema_types:
                checks.append(("notnull" if neg else "isnull", col, None))
            continue
        mi = _IN_LIST_RE.match(c)
        if mi:
            col, body = mi.group(1), mi.group(2)
            if col not in allowed_cols or col not in schema_types:
                continue
            items = [x.strip() for x in body.split(",") if x.strip()]
            if not items:
                continue
            vals = [_parse_lit_py(x, schema_types[col]) for x in items]
            if any(v is _FALLBACK for v in vals):
                return None
            try:
                checks.append(("in", col, (min(vals), max(vals))))
            except TypeError:  # mixed int/str etc — let Spark coerce
                return None
            continue
        ml = _LIKE_PREFIX_RE.match(c)
        if ml:
            col, prefix = ml.group(1), ml.group(2)
            if (col in allowed_cols
                    and isinstance(schema_types.get(col), T.StringType)
                    and _like_prefix_upper(prefix) is not None):
                checks.append(("like", col, prefix))
            continue
        m = _CONJ_CMP_RE.match(c)
        if not m:
            continue
        col, op, lit = m.group(1), m.group(2), m.group(3)
        if col not in allowed_cols or col not in schema_types:
            continue
        if _IDENT_RE.search(lit) and not re.match(
                r"^\s*(DATE|TIMESTAMP|INTERVAL|TRUE|FALSE)\b", lit,
                re.IGNORECASE):
            continue  # column-vs-column / function call: not analyzable
        v = _parse_lit_py(lit, schema_types[col])
        if v is _FALLBACK:
            return None
        checks.append(("cmp", col, (op, v)))
    if not checks:
        return files

    amap = alias_map(info)

    def _keep(f) -> bool:
        st = f.stats or {}
        for kind, col, payload in checks:
            phys = _resolve_physical(col, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            if kind == "isnull":
                n = b.get("nulls")
                if n is not None and n == 0:
                    return False
                continue
            if kind == "notnull":
                n = b.get("nulls")
                if n is not None and f.num_rows >= 0 and n >= f.num_rows:
                    return False
                continue
            mn, mx = b.get("min"), b.get("max")
            dtype = schema_types[col]
            if mn is None or mx is None:
                continue  # no bounds: file passes this conjunct
            if not (_stat_ok_py(mn, dtype) and _stat_ok_py(mx, dtype)):
                raise _PyPruneBail()
            if kind == "in":
                lo, hi = payload
                try:
                    if not (mn <= hi and mx >= lo):
                        return False
                except TypeError:
                    raise _PyPruneBail()
                continue
            if kind == "like":
                # matches live in [prefix, upper): overlap test against
                # the file's [min, max] (string stats compare in code-
                # point order == UTF-8 byte order)
                if not isinstance(mn, str) or not isinstance(mx, str):
                    raise _PyPruneBail()
                upper = _like_prefix_upper(payload)
                if not (mx >= payload and mn < upper):
                    return False
                continue
            op, v = payload
            try:
                if op in ("=", "=="):
                    if not (mn <= v and mx >= v):
                        return False
                elif op == ">":
                    if not mx > v:
                        return False
                elif op == ">=":
                    if not mx >= v:
                        return False
                elif op == "<":
                    if not mn < v:
                        return False
                elif op == "<=":
                    if not mn <= v:
                        return False
            except TypeError:
                raise _PyPruneBail()
        return True

    try:
        return [f for f in files if _keep(f)]
    except _PyPruneBail:
        return None


class _PyPruneBail(Exception):
    pass


def _prune_files_by_stats(spark, info, files, conjuncts, allowed_cols):
    """Delta-style data skipping (beyond the reference — its
    DataFileInfo has no column stats): keep only files whose footer
    min/max could satisfy every analyzable conjunct ``col <op>
    literal``. A file lacking bounds for a column passes that conjunct
    (coalesce(.., true)); the evaluation happens in a tiny driver-side
    DataFrame so literal casting follows Spark's own coercion rules,
    the same technique _prune_partitions_sql uses. The all-Python fast
    path above answers first wherever its narrower literal envelope
    provably matches that coercion."""
    fast = _try_prune_python(info, files, conjuncts, allowed_cols)
    if fast is not None:
        return fast
    schema_types = {f.name: f.dataType for f in _schema(info).fields}
    conds = []
    need_cols = set()
    null_cols = set()
    for c in conjuncts:
        mn_ = _IS_NULL_RE.match(c)
        if mn_:
            col, neg = mn_.group(1), bool(mn_.group(2))
            if col not in allowed_cols or col not in schema_types:
                continue
            # footer null counts: `IS NULL` skips files with zero nulls
            # in the column; `IS NOT NULL` skips files that are ALL
            # null (null count == row count). Unknown counts pass.
            if neg:
                conds.append(f"coalesce(`_nulls_{col}` < `_rows`, true)")
            else:
                conds.append(f"coalesce(`_nulls_{col}` > 0, true)")
            null_cols.add(col)
            continue
        mi = _IN_LIST_RE.match(c)
        if mi:
            col, body = mi.group(1), mi.group(2)
            items = [x.strip() for x in body.split(",") if x.strip()]
            def _is_literal(x: str) -> bool:
                if x.startswith("'"):
                    return True
                if _IDENT_RE.search(x):
                    return bool(re.match(
                        r"^(DATE|TIMESTAMP|TRUE|FALSE)\b", x, re.IGNORECASE))
                return True
            if (col in allowed_cols and col in schema_types and items
                    and all(_is_literal(x) for x in items)):
                lits = ", ".join(items)
                mn, mx = f"`_min_{col}`", f"`_max_{col}`"
                # range check against the list's envelope: a file whose
                # [min,max] misses [least,greatest] can't hold any member
                conds.append(
                    f"coalesce({mn} <= greatest({lits}) AND "
                    f"{mx} >= least({lits}), true)")
                need_cols.add(col)
            continue
        ml = _LIKE_PREFIX_RE.match(c)
        if ml:
            col, prefix = ml.group(1), ml.group(2)
            upper = _like_prefix_upper(prefix)
            if (col in allowed_cols
                    and isinstance(schema_types.get(col), T.StringType)
                    and upper is not None):
                mn, mx = f"`_min_{col}`", f"`_max_{col}`"
                conds.append(
                    f"coalesce({mx} >= '{prefix}' AND {mn} < '{upper}', true)")
                need_cols.add(col)
            continue
        m = _CONJ_CMP_RE.match(c)
        if not m:
            continue
        col, op, lit = m.group(1), m.group(2), m.group(3)
        if col not in allowed_cols or col not in schema_types:
            continue
        if _IDENT_RE.search(lit) and not re.match(
                r"^\s*(DATE|TIMESTAMP|INTERVAL|TRUE|FALSE)\b", lit, re.IGNORECASE):
            continue  # column-vs-column or function call: not analyzable
        mn, mx = f"`_min_{col}`", f"`_max_{col}`"
        if op in ("=", "=="):
            conds.append(f"coalesce({mn} <= {lit} AND {mx} >= {lit}, true)")
        elif op in (">", ">="):
            conds.append(f"coalesce({mx} {op} {lit}, true)")
        else:  # < / <=
            conds.append(f"coalesce({mn} {op} {lit}, true)")
        need_cols.add(col)
    if not conds:
        return files
    amap = alias_map(info)
    rows = []
    for i, f in enumerate(files):
        st = f.stats or {}
        row = {"_idx": i, "_rows": f.num_rows if f.num_rows >= 0 else None}
        for c in need_cols:
            # pre-rename files recorded footer bounds under the old
            # physical name — resolve through the alias map so renamed
            # columns keep skipping (missing either way ⇒ file kept)
            phys = _resolve_physical(c, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            mn, mx = b.get("min"), b.get("max")
            row[f"_min_{c}"] = None if mn is None else str(mn)
            row[f"_max_{c}"] = None if mx is None else str(mx)
        for c in null_cols:
            phys = _resolve_physical(c, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            row[f"_nulls_{c}"] = b.get("nulls")
        rows.append(row)
    fields = [T.StructField("_idx", T.IntegerType()),
              T.StructField("_rows", T.LongType())]
    for c in sorted(need_cols):
        fields += [T.StructField(f"_min_{c}", T.StringType()),
                   T.StructField(f"_max_{c}", T.StringType())]
    for c in sorted(null_cols):
        fields.append(T.StructField(f"_nulls_{c}", T.LongType()))
    pdf = local_df(spark,
        [[r.get(f.name) for f in fields] for r in rows], T.StructType(fields))
    for c in need_cols:
        pdf = (pdf.withColumn(f"_min_{c}", F.col(f"_min_{c}").cast(schema_types[c]))
                  .withColumn(f"_max_{c}", F.col(f"_max_{c}").cast(schema_types[c])))
    keep = {r["_idx"] for r in pdf.filter(F.expr(" AND ".join(conds))).collect()}
    return [f for i, f in enumerate(files) if i in keep]


def _prune_files_by_bloom(info, table_path, files, conjuncts, allowed_cols):
    """File-level Bloom skipping (operators/bloom.py): drop files whose
    bitmap PROVES an equality/IN conjunct can't match. Runs after
    min/max stats pruning — it's the layer that fires on point lookups
    over high-cardinality UNSORTED columns, where every file's [min,
    max] spans the domain and stats keep everything. Pure Python, zero
    Spark jobs: literals hash through the bit-exact murmur3 twin
    (_spark_hash_py, differentially pinned — bloom build uses the JVM's
    F.hash on the same double-hash family). Fail-open everywhere: no
    bloom_ref / unparseable literal / non-ASCII string / missing
    sidecar row ⇒ the file stays."""
    if not any(f.bloom_ref for f in files):
        return files
    from starlake_spark.operators import bloom as _bloom

    schema_types = {f.name: f.dataType for f in _schema(info).fields}
    checks = []  # (col, [(h1, h2), ...]) — file dropped iff ALL absent
    for c in conjuncts:
        col, items = None, None
        m = _CONJ_CMP_RE.match(c)
        if m and m.group(2) in ("=", "=="):
            col, items = m.group(1), [m.group(3)]
        else:
            mi = _IN_LIST_RE.match(c)
            if mi:
                col = mi.group(1)
                items = [x.strip() for x in mi.group(2).split(",") if x.strip()]
        if col is None or not items:
            continue
        dt = schema_types.get(col)
        if col not in allowed_cols or dt is None \
                or not isinstance(dt, _bloom._ELIGIBLE):
            continue
        hashes = []
        ok = True
        for lit in items:
            v = _parse_bucket_lit(lit, dt)
            if v is _FALLBACK:
                ok = False
                break
            h1 = _spark_hash_py([v], [dt])
            h2 = _spark_hash_py([v, 1], [dt, T.IntegerType()])
            if h1 is None or h2 is None:
                ok = False
                break
            hashes.append((h1, h2))
        if ok and hashes:
            checks.append((col, hashes))
    if not checks:
        return files
    amap = alias_map(info)
    kept = []
    for f in files:
        if not f.bloom_ref:
            kept.append(f)
            continue
        ref = f.bloom_ref if os.path.isabs(f.bloom_ref) \
            else os.path.join(table_path, f.bloom_ref)
        side = _bloom.load_sidecar(ref)
        base = f.path if os.path.isabs(f.path) \
            else os.path.join(table_path, f.path)
        drop = False
        for col, hashes in checks:
            phys = _resolve_physical(
                col, {c for (p, c) in side if p == base}, amap)
            row = None if phys is None else side.get((base, phys))
            if row is None:
                continue  # no bitmap for this column: conjunct passes
            m_bits, k, bits = row
            if not any(_bloom.test_membership(bits, m_bits, k, h1, h2)
                       for h1, h2 in hashes):
                drop = True
                break
        if not drop:
            kept.append(f)
    return kept


def scan(
    spark: SparkSession,
    store: ManifestStore,
    version: int | None = None,
    merge_operators: dict | None = None,
    partition_filter=None,
    snapshot: Snapshot | None = None,
    where: str | None = None,
    schema_as_of: bool = True,
    with_rowid: bool = False,
) -> DataFrame:
    """Build the DataFrame view of a table snapshot.

    ``partition_filter``: manifest-level partition pruning (reference
    PartitionFilter.scala:26-106 evaluates partition predicates before
    file listing). Either a python predicate over the decoded
    range-value dict (zero Spark jobs), or a SQL predicate string
    evaluated over a tiny DataFrame of the partition values — the
    reference's exact technique (PartitionFilter.scala:28-52).

    ``merge_operators``: {column: op} where op is a name ('sum',
    'concat', ...), a MergeOperator, or a Python callable.

    ``with_rowid``: append the deletion-vector identity columns
    (_star_fid, _star_pos) to the output — non-hash tables only (a
    MoR-merged row has no single physical position). The DV delete
    path records positions through this flag.
    """
    # refresh=True: a scan must serve the CURRENT declared schema even
    # on a long-lived handle — another process's ALTER / auto-merged
    # upsert column appears on the next read (Delta re-reads the log
    # per query; this is one ~KB driver-side JSON read per scan)
    info = store.table_info(refresh=True)
    snap = snapshot or store.snapshot(version)
    # Versioned schema (Delta-style): an explicit time-travel read uses
    # the schema AS OF that commit — a column dropped or renamed since
    # reappears under its then-current name. Pre-feature manifests
    # (schema_json absent) and latest-reads use the live schema.
    # ``schema_as_of=False`` opts internal versioned readers (CDC
    # boundary scans, rollup refresh partials) back into the CURRENT
    # schema so their two sides always line up column-for-column.
    if (schema_as_of and (version is not None or snapshot is not None)
            and snap.schema_json and snap.schema_json != info.schema_json):
        import dataclasses as _dc

        info = _dc.replace(info, schema_json=snap.schema_json)
    # Tables can DECLARE their merge operators (compaction.merge_operators
    # property, set e.g. by create_rollup): every scan that isn't given
    # explicit operators then collapses MoR versions with the declared
    # ones — so update/delete/CoW rewrites and plain to_df() reads see
    # the same canonical view compaction materializes, instead of
    # silently last-wins-collapsing partial-aggregate tables.
    if merge_operators is None:
        prop = (info.configuration or {}).get("compaction.merge_operators")
        if prop:
            merge_operators = json.loads(prop)
    ops = {c: mo.resolve(op) for c, op in (merge_operators or {}).items()}
    if ops and not info.hash_cols:
        raise ValueError("merge operators require a hash-partitioned table "
                         "(reference ExtractMergeOperator.scala:106-121)")
    if ops:
        known = {f.name for f in _schema(info).fields}
        keys = set(info.range_cols + info.hash_cols)
        for c in ops:
            if c not in known:
                raise KeyError(f"merge operator on unknown column '{c}'")
            if c in keys:
                raise ValueError(f"merge operator on partition/hash column '{c}'")

    if isinstance(partition_filter, str):
        keep = _prune_partitions_sql(spark, info, list(snap.partitions), partition_filter)
        partition_filter = lambda d, _keep=keep: d in _keep  # noqa: E731

    # `where`: one predicate that (a) prunes partitions via its
    # range-column conjuncts — the metadata/data predicate split of
    # StarLakeUtils.scala:117-147 — (b) skips files via footer stats,
    # (c) is ALWAYS re-applied row-level at the end, so (a)+(b) are
    # pure I/O savings with no correctness surface.
    where_conjs = _conjuncts(where) if where else []
    if where_conjs and info.range_cols:
        fields = set(_schema(info).fieldNames())
        # a conjunct whose column references are all range columns is a
        # metadata-only predicate → evaluable against partition values
        part_conjs = [
            c for c in where_conjs
            if ({i for i in _IDENT_RE.findall(c) if i in fields}
                and {i for i in _IDENT_RE.findall(c) if i in fields}
                <= set(info.range_cols))
        ]
        part_conjs += _generated_conjuncts(info, where_conjs)
        if part_conjs:
            keep2 = _prune_partitions_sql(
                spark, info, list(snap.partitions), " AND ".join(part_conjs))
            prev = partition_filter
            partition_filter = (
                lambda d, _k=keep2, _p=prev: d in _k and (_p is None or _p(d)))

    plain_files: list[DataFileInfo] = []
    merge_files: list[DataFileInfo] = []
    dv_infos: list[DataFileInfo] = []
    for rv, ps in snap.partitions.items():
        if partition_filter is not None and not partition_filter(decode_range_value(rv)):
            continue
        # single-version partitions normally scan plain (in-batch dedup
        # guarantees unique keys) — but a lone mixed_delta commit
        # (upsert_with_tombstones on a fresh partition) carries
        # tombstone rows that only the merge path filters
        needs_merge = info.hash_cols and (
            len({f.write_version for f in ps.files}) > 1
            or any(TOMBSTONE_COL in f.exist_cols for f in ps.files))
        (merge_files if needs_merge else plain_files).extend(ps.files)
        dv_infos.extend(ps.dv_files)  # non-hash tables only (dml guard)

    # An operator that is NOT identity on a singleton version list
    # (PythonMergeOp default) must also see single-version partitions —
    # otherwise a half-compacted table would apply the op on deltaed
    # partitions and return raw values on compacted ones. Built-ins are
    # all singleton-identity, so this costs nothing in the common case.
    if plain_files and ops and not all(
            op.singleton_identity for op in ops.values()):
        merge_files = merge_files + plain_files
        plain_files = []

    if where_conjs and (plain_files or merge_files):
        # bucket pruning: a full-key equality lookup touches exactly one
        # bucket's files per partition, an IN-list lookup at most one
        # per listed key (adopted bucket_id=-1 files pass)
        bs = _buckets_for_lookup(spark, info, where_conjs)
        if bs is not None:
            keep = bs | {-1}
            plain_files = [f for f in plain_files if f.bucket_id in keep]
            merge_files = [f for f in merge_files if f.bucket_id in keep]

    if where_conjs:
        all_cols = set(_schema(info).fieldNames())
        if plain_files:
            # plain files: every row is final → any column's bounds skip
            plain_files = _prune_files_by_stats(
                spark, info, plain_files, where_conjs, all_cols)
            plain_files = _prune_files_by_bloom(
                info, store.table_path, plain_files, where_conjs, all_cols)
        if merge_files:
            # MoR inputs: non-key columns change under the merge (a
            # skipped older version would alter sum/last results) — only
            # the groupBy keys survive identically, so only key-column
            # conjuncts may skip pre-merge files.
            key_cols = set(info.range_cols) | set(info.hash_cols)
            merge_files = _prune_files_by_stats(
                spark, info, merge_files, where_conjs, key_cols)
            merge_files = _prune_files_by_bloom(
                info, store.table_path, merge_files, where_conjs, key_cols)

    if with_rowid and (merge_files or info.hash_cols):
        raise ValueError(
            "with_rowid requires a non-hash table (a MoR-merged row "
            "has no single physical position)")
    parts = []
    if plain_files:
        # reaching here with ops ⇒ every op is singleton-identity, so a
        # plain columnar scan IS the operator result on these partitions
        parts.append(_plain_scan(spark, store, info, plain_files,
                                 dv_infos=dv_infos, with_rowid=with_rowid))
    if merge_files:
        parts.append(_merge_scan(spark, store, info, merge_files, ops))
    if not parts:
        out = _empty_df(spark, info)
        if with_rowid:
            out = out.withColumn(DV_FID, F.lit(None).cast("string")) \
                     .withColumn(DV_POS, F.lit(None).cast("long"))
        return out
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if merge_files:
        # Manifest-size broadcast hint: Catalyst estimates a plain
        # parquet relation from its file sizes, but the MoR collapse
        # (union + groupBy) defeats that — a 2 MB dimension table with
        # one delta would sort-merge-join. The manifest already knows
        # the scan's byte size (post-merge output ≤ pre-merge file
        # bytes, so the figure is conservative); below the session's
        # autoBroadcastJoinThreshold, hint broadcast. Spark drops the
        # hint with a warning where it can't apply (e.g. the preserved
        # side of an outer join) — never a correctness surface.
        thr = _broadcast_threshold(spark)
        if 0 < sum(f.size for f in merge_files + plain_files) <= thr:
            out = F.broadcast(out)
    return out


_SIZE_RE = re.compile(r"^(-?\d+)\s*([kmgt]?b?)$")
_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
               "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
               "t": 1 << 40, "tb": 1 << 40}


def _broadcast_threshold(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold in bytes (-1 = disabled)."""
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
        m = _SIZE_RE.match(raw.strip().lower())
        if not m:
            return -1
        return int(m.group(1)) * _SIZE_UNITS[m.group(2)]
    except Exception:
        return -1
