"""Transactional bucketed parquet writes.

Reference parity: TransactionalWrite.scala:113-225 — a write to a
hash-partitioned table repartitions the data into ``bucket_num``
buckets by the hash keys, sorts each bucket by the keys, and emits one
parquet file per (range partition, bucket); DelayedCommitProtocol.scala:37-151
collects the written files into DataFileInfo rows for the meta commit.

Spark-first translation: ``df.repartition(n, *hash_cols)`` assigns each
row to partition ``pmod(murmur3(hash_cols), n)`` — that partition id IS
the bucket id and is stable across commits for a fixed ``n``, so delta
files line up with base files bucket-by-bucket (same property the
reference gets from BucketingUtils); bucketed writes run with AQE off
so that no exchange feeding the files is ever coalesced.
``sortWithinPartitions(range_cols + hash_cols)`` both satisfies the
dynamic-partition-write required ordering (so Spark inserts no extra
sort) and keeps rows key-sorted inside every file. Files land in a
per-commit directory (``data/<commit_id>/``) so they are invisible
until the manifest commit publishes them — the atomicity trick of
Delta-style log stores.

Scale note: one file per (partition, bucket) per commit means write
parallelism = bucket_num × touched partitions; pick bucket_num so that
100 TB / bucket_num ≈ a few hundred MB per file per partition.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from starlake_spark.meta import DataFileInfo, TableInfo, Transaction

_BUCKET_RE = re.compile(r"part-(\d+)")


def table_schema(info: TableInfo) -> T.StructType:
    return T.StructType.fromJson(json.loads(info.schema_json))


def _has_nested_null_type(dt: T.DataType) -> bool:
    if isinstance(dt, T.NullType):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_nested_null_type(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_nested_null_type(dt.elementType)
    if isinstance(dt, T.MapType):
        return (_has_nested_null_type(dt.keyType)
                or _has_nested_null_type(dt.valueType))
    return False


def reject_nested_null_types(schema: T.StructType) -> None:
    """A TOP-LEVEL NullType column drops cleanly; a NullType buried in
    an array/map/struct cannot be dropped column-wise and parquet
    cannot store it — refuse loudly (reference SchemaEnforcementSuite
    'JSON ETL workflow, schema merging NullTypes - throw error on
    complex types': untyped JSON like ``"top":[]`` infers
    array<null>)."""
    bad = [f.name for f in schema.fields
           if not isinstance(f.dataType, T.NullType)
           and _has_nested_null_type(f.dataType)]
    if bad:
        raise ValueError(
            f"column(s) {bad} contain a nested NullType, which cannot "
            "be stored or dropped column-wise — cast the untyped "
            "(all-null / empty-collection) JSON fields to a concrete "
            "type before writing")


def _drop_null_type_columns(df: DataFrame) -> DataFrame:
    """NullType columns are dropped on write (reference
    schema/SchemaUtils.scala:99-143, dropNullTypeColumns); NESTED
    NullTypes refuse instead."""
    reject_nested_null_types(df.schema)
    keep = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.NullType)]
    if len(keep) != len(df.columns):
        df = df.select(*keep)
    return df


def _cast_by_name(col, src: T.DataType, dst: T.DataType):
    """Recursive BY-NAME cast to the declared type (reference
    rules/StarLakeAnalysis.scala:161-197): Spark's plain Cast matches
    struct fields positionally, so a source struct with reordered or
    missing nested fields would silently garble values — here nested
    struct fields are matched by name, missing ones become typed nulls,
    and the recursion descends through array elements and map values.
    """
    if src == dst:
        return col
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        src_fields = {f.name: f for f in src.fields}
        parts = []
        for f in dst.fields:
            if f.name in src_fields:
                parts.append(
                    _cast_by_name(col[f.name], src_fields[f.name].dataType,
                                  f.dataType).alias(f.name))
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(F.struct(*parts))
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return F.when(
            col.isNull(), F.lit(None).cast(dst)
        ).otherwise(
            F.transform(col, lambda x: _cast_by_name(x, src.elementType, dst.elementType))
        )
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        out = F.transform_values(
            col, lambda _k, v: _cast_by_name(v, src.valueType, dst.valueType))
        if src.keyType != dst.keyType:
            out = F.transform_keys(out, lambda k, _v: k.cast(dst.keyType))
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(out)
    return col.cast(dst)


def align_case(df: DataFrame, info: TableInfo) -> DataFrame:
    """Case-insensitive source→schema alignment (Spark's default
    resolver; reference CaseSensitivitySuite behavior): a source column
    matching a declared column modulo case is renamed to the table's
    canonical casing; two source columns collapsing onto one name are
    rejected rather than silently merged. Runs BEFORE any partition-col
    presence check or autoMerge — otherwise a mixed-case source column
    would be treated as a brand-new column by schema evolution."""
    declared = {f.name.lower(): f.name for f in table_schema(info).fields}
    seen: dict[str, str] = {}
    renamed = []
    any_renames = False
    for name in df.columns:
        canon = declared.get(name.lower(), name)
        if canon.lower() in seen:
            raise ValueError(
                f"source columns '{seen[canon.lower()]}' and '{name}' differ "
                f"only in case — ambiguous under case-insensitive resolution"
            )
        seen[canon.lower()] = name
        renamed.append(canon)
        any_renames = any_renames or canon != name
    if any_renames:
        df = df.select(*[F.col(f"`{c}`").alias(n) for c, n in zip(df.columns, renamed)])
    return df


def dedup_eligible(info: TableInfo) -> bool:
    """In-batch PK dedup applies to hash tables WITHOUT declared merge
    operators (whose fold must see every source row — in-batch
    duplicates are addends, not noise)."""
    return bool(info.hash_cols) and not \
        (info.configuration or {}).get("compaction.merge_operators")


def dedup_batch_last_wins(df: DataFrame, info: TableInfo) -> DataFrame:
    """In-batch primary-key dedup for hash tables (reference
    UpsertWithDuplicateData{BySame,ByDifferent,AndFields} manual suites:
    duplicate keys inside ONE write batch collapse to the LAST row,
    the same last-wins the merge reader applies across versions —
    MergeSingletonFile semantics within a file). Order is the batch's
    input order (monotonically_increasing_id: partition-major, row-minor
    — union'd later frames outrank earlier ones). Without this the
    plain scan of an all-base snapshot would show BOTH rows while the
    MoR scan after any delta collapses them arbitrarily — write-time
    dedup makes every read path agree and keeps the file-level PK
    invariant.

    STANDALONE form (owns a shuffle): used where the deduped frame
    feeds further plan (the CoW join's source). Writes go through
    ``write_files(dedup_batch=True)`` instead, which rides the bucket
    repartition it performs anyway — zero extra exchanges."""
    from pyspark.sql import Window

    if not dedup_eligible(info):
        return df
    keys = [k for k in info.range_cols + info.hash_cols if k in df.columns]
    if not keys:
        return df
    w = Window.partitionBy(*keys).orderBy(F.col("_sl_batch_ord").desc())
    return (df.withColumn("_sl_batch_ord", F.monotonically_increasing_id())
              .withColumn("_sl_batch_rn", F.row_number().over(w))
              .filter(F.col("_sl_batch_rn") == 1)
              .drop("_sl_batch_ord", "_sl_batch_rn"))


def _normalize_is_noop(df: DataFrame, info: TableInfo) -> bool:
    """True when ``normalize_for_write`` would emit an identity
    projection: every source column matches a declared column exactly
    (name AND type — so no case realignment, no casts, no NullType
    drops: declared schemas never carry NullType), no generated column
    needs deriving, and every partition/hash column is present. The
    slow path builds one cast/alias Column per column plus a fresh
    ``select`` (an eager analyzer pass) — pure py4j/plan fixed cost on
    every commit when, as in steady-state ingest, the source already
    has the table's shape."""
    try:
        declared = {f.name: f.dataType for f in table_schema(info).fields}
    except Exception:  # unparseable schema: let the slow path report it
        return False
    for k in (info.configuration or {}):
        if k.startswith("generated."):
            c = k[len("generated."):]
            if c in declared and c not in df.columns:
                return False
    for c in info.range_cols + info.hash_cols:
        if c not in df.columns:
            return False  # slow path raises the declared error
    seen_lower: set[str] = set()
    for f in df.schema.fields:
        dt = declared.get(f.name)
        if dt is None or dt != f.dataType:
            return False
        low = f.name.lower()
        if low in seen_lower:
            return False  # case-colliding source columns: align_case raises
        seen_lower.add(low)
    return True


def normalize_for_write(
    df: DataFrame, info: TableInfo, enforce_schema: bool = True
) -> DataFrame:
    """Cast/align an incoming DataFrame to the table schema.

    Mirrors the INSERT projection normalization of
    rules/StarLakeAnalysis.scala:44-63,105-197 (by-name cast + nullability
    enforcement): every table column present in the source is cast to the
    declared type — recursively by name through structs/arrays/maps
    (``_cast_by_name``); partition/hash columns must be present and
    non-null (schema/ImplicitMetadataOperation.scala:148-156).
    """
    if _normalize_is_noop(df, info):
        return df
    df = align_case(_drop_null_type_columns(df), info)
    schema = table_schema(info)
    declared = {f.name: f for f in schema.fields}
    # generated partition columns (generated.<col> = <sql expr> table
    # property): computed automatically when the source omits them —
    # consistency of caller-provided values is enforced by
    # _invariant_guard during the write pass
    for k, expr in (info.configuration or {}).items():
        if k.startswith("generated."):
            c = k[len("generated."):]
            if c not in df.columns and c in declared:
                df = df.withColumn(c, F.expr(expr).cast(declared[c].dataType))
    src_types = {f.name: f.dataType for f in df.schema.fields}
    src_cols = set(df.columns)

    for c in info.range_cols + info.hash_cols:
        if c not in src_cols:
            raise ValueError(f"partition/hash column '{c}' missing from source data")

    projected = []
    for name in df.columns:
        if name in declared:
            projected.append(
                _cast_by_name(F.col(name), src_types[name],
                              declared[name].dataType).alias(name))
        elif not enforce_schema:
            projected.append(F.col(name))
        else:
            raise ValueError(
                f"column '{name}' not in table schema; use schema merge (mergeSchema)"
            )
    return df.select(*projected)


CHECK_PREFIX = "check."

_INVARIANT_MSG_RE = re.compile(
    r"(NOT NULL invariant[^\n\"]*|CHECK constraint[^\n\"]*"
    r"|generated column[^\n\"]*)")


def _bt(name: str) -> str:
    """Backtick-quote an identifier for SQL-text rendering."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """Escape a python string into a Spark SQL single-quoted literal
    body (default parser mode: backslash escapes)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _invariant_guard(df: DataFrame, info: TableInfo,
                     is_base: bool = False) -> DataFrame:
    """Enforce NOT NULL primary keys + CHECK-expression invariants
    inline, during the write pass itself — the reference wraps the write
    plan in a validating physical node (InvariantCheckerExec.scala:33-107)
    for the same reason: a separate pre-write check is a second full scan
    of the source at 100 TB.

    The guard folds a CASE WHEN/raise_error chain into the first
    projected column, so the violation surfaces as soon as any task hits
    a bad row and the job aborts; ``write_files`` converts it back to
    ValueError. NOT NULL covers partition/hash cols
    (ImplicitMetadataOperation.scala:148-156); CHECKs come from
    ``check.<name>`` table properties (Invariants.scala:29-99),
    violating when NOT coalesce(expr, false). The chain is rendered as
    ONE SQL expression (a single parse round-trip) — building it
    Column-by-Column was ~100 py4j calls of per-commit fixed cost.
    """
    conds: list[tuple] = []
    # MV backing tables opt OUT of the hash-col NOT NULL rule
    # (invariants.allowNullHashKeys): SQL GROUP BY keys may be NULL,
    # and the whole merge machinery is already null-safe — bucket
    # routing hashes NULL to a deterministic bucket, the MoR collapse
    # is a groupBy (NULL groups with NULL), tombstones match through
    # the same groupBy. Plain user tables keep the reference's rule
    # (ImplicitMetadataOperation.scala:148-156). Range cols stay
    # enforced: partition directory encoding has no NULL form.
    allow_null_hash = (info.configuration or {}).get(
        "invariants.allowNullHashKeys", "false").lower() == "true"
    enforced = info.range_cols + ([] if allow_null_hash else info.hash_cols)
    for c in enforced:
        conds.append((f"{_bt(c)} IS NULL",
                      f"NOT NULL invariant violated on partition/hash column '{c}' "
                      f"of {info.range_cols + info.hash_cols}"))
    # declared NOT NULL columns (reference DDLSuite.scala:58-199:
    # CREATE TABLE (b STRING NOT NULL) + a null write must fail).
    # Tombstone delta rows legitimately carry nulls in non-key columns,
    # so the guard exempts them.
    try:
        declared = T.StructType.fromJson(json.loads(info.schema_json))
    except Exception:
        declared = T.StructType([])
    from starlake_spark.operators.reader import TOMBSTONE_COL

    keyed = {c.lower() for c in info.range_cols + info.hash_cols}
    tomb = (f" AND NOT coalesce({_bt(TOMBSTONE_COL)}, false)"
            if TOMBSTONE_COL in df.columns else "")
    have = {f.name.lower(): f.dataType for f in df.schema.fields}
    for f in declared.fields:
        if f.nullable or f.name.lower() in keyed:
            continue
        src_t = have.get(f.name.lower())
        if src_t is None or isinstance(src_t, T.NullType):
            # absent (or all-NULL VALUES literal, which the writer drops
            # as NullType) in a BASE write = every row violates — fail
            # at plan time. Delta/upsert writes legitimately omit
            # columns (absent = keep existing under MoR), so only base
            # writes enforce presence.
            if is_base:
                raise ValueError(
                    f"NOT NULL invariant violated on column '{f.name}': "
                    f"the write provides no values for it")
            continue
        conds.append((f"({_bt(f.name)} IS NULL{tomb})",
                      f"NOT NULL invariant violated on column "
                      f"'{f.name}'"))
    for k, expr in sorted((info.configuration or {}).items()):
        # tombstone rows (data columns are explicit nulls by
        # construction) are exempt from CHECK / generated-value
        # equality exactly as they are from declared NOT NULL above —
        # a mixed tombstone+postimage commit (dml.upsert_with_tombstones)
        # runs the guard over both row kinds in one pass
        if k.startswith(CHECK_PREFIX):
            conds.append((f"((NOT coalesce(({expr}), false)){tomb})",
                          f"CHECK constraint '{k[len(CHECK_PREFIX):]}' ({expr}) violated"))
        elif k.startswith("generated."):
            # caller-provided values must equal the generating expression
            # (Delta's generated-column write check) — else partition
            # routing and pruning would silently disagree with the data
            c = k[len("generated."):]
            if c in df.columns:
                dt = df.schema[c].dataType.simpleString()
                conds.append((
                    f"((NOT ({_bt(c)} <=> CAST(({expr}) AS {dt}))){tomb})",
                    f"generated column '{c}' does not match its expression ({expr})"))
    if not conds:
        return df
    # identical evaluation order to the old nested when/otherwise fold:
    # the LAST appended condition was outermost, so it tests first
    c0 = df.columns[0]
    whens = "".join(f" WHEN {cond} THEN raise_error('{_sql_str(msg)}')"
                    for cond, msg in reversed(conds))
    return df.withColumn(c0, F.expr(f"CASE{whens} ELSE {_bt(c0)} END"))


def _is_statically_empty(df: DataFrame) -> bool:
    """True when Catalyst has already proven the frame empty — the
    optimized plan folded to a rowless LocalRelation (``df.limit(0)``,
    ``filter(lit(False))``, empty unions...). Plan-only inspection, no
    job. Lets every commit path skip the Spark write job for
    schema-only commits (e.g. ``create_table(df.limit(0), ...)``,
    the standard empty-table idiom) — at 100 TB a cluster round-trip
    just to write zero rows is pure fixed cost. Conservative: anything
    the optimizer can't fold (e.g. a parquet scan that HAPPENS to
    match nothing) returns False and takes the normal write path.

    Gated on the analyzed plan's pattern bitset (O(1), cached): a plan
    carrying a LIMIT, a LocalRelation, or a literal TRUE/FALSE
    somewhere below covers the foldable-empty idioms the engine
    actually produces (``limit(0)``, ``filter(lit(False))``, empty
    local frames, empty unions of those), so every ordinary commit
    (scan → project → repartition) skips the full optimizer pass this
    probe used to run per write (~5-20 ms of driver fixed cost per
    commit). Known miss, deliberately accepted: a predicate whose
    literals fold to false only during optimization (``filter("1 = 0")``
    — analyzed as an int comparison, no TRUE/FALSE literal) takes the
    normal write path; adding FILTER to the gate would re-run the
    optimizer probe for virtually every DML write, which costs more
    across a commit storm than the rare folded write job it would
    skip. A miss is never wrong — it just takes the normal write path.
    """
    try:
        qe = df._jdf.queryExecution()
        a = qe.analyzed()
        tp = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        if not (a.containsPattern(tp.LIMIT())
                or a.containsPattern(tp.LOCAL_RELATION())
                or a.containsPattern(tp.TRUE_OR_FALSE_LITERAL())):
            return False
        p = qe.optimizedPlan()
        return (p.getClass().getSimpleName() == "LocalRelation"
                and p.data().isEmpty())
    except Exception:
        return False


def _aqe_pointless(df: DataFrame) -> bool:
    """True when adaptive execution cannot improve this write's plan:
    no Join and no Aggregate anywhere below the write (AQE re-plans
    join strategies, splits skewed joins, and coalesces shuffle
    partitions — but it never touches an explicit fixed-N repartition,
    which is exactly what the bucketed write layout uses). For such
    narrow scan→project→repartition→sort pipelines AQE only *costs*: it
    splits the commit into a shuffle-materialization stage plus a write
    stage — one extra scheduling round-trip and shuffle spill per
    commit, which doubles the latency of small (CDC-trickle) commits.
    Probe is O(1): TreeNode caches its pattern bitset, and analysis of
    the frame has already run (normalize_for_write touched the schema)."""
    try:
        p = df._jdf.queryExecution().analyzed()
        tp = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        return not (p.containsPattern(tp.JOIN())
                    or p.containsPattern(tp.AGGREGATE()))
    except Exception:  # noqa: BLE001 - perf probe only, never block a write
        return False


# session → [no-AQE writes in flight, AQE setting to restore]
_NO_AQE_LOCK = threading.Lock()
_no_aqe: dict = {}


def _save_no_aqe(spark: SparkSession, writer, abs_dir: str) -> None:
    """Execute the write with AQE off (join/agg-free plans — see
    _aqe_pointless — and every bucketed write). Session-conf flip,
    counted per session: AQE comes back only when the session's last
    such write ends, so concurrent writers never turn it on under one
    another (a bucketed write's layout depends on it). A concurrent
    non-write query planned inside the window loses AQE for that one
    plan — a latency matter, never correctness."""
    key = "spark.sql.adaptive.enabled"
    with _NO_AQE_LOCK:
        held = _no_aqe.get(spark)
        if held is None:
            held = _no_aqe[spark] = [0, spark.conf.get(key, "true")]
            spark.conf.set(key, "false")
        held[0] += 1
    try:
        writer.save(abs_dir)
    finally:
        with _NO_AQE_LOCK:
            held[0] -= 1
            if not held[0]:
                del _no_aqe[spark]
                spark.conf.set(key, held[1])


def _list_written_files(abs_dir: str) -> list[str]:
    # LISTING SEAM (starlake_spark.listing): harvest of THIS commit's
    # freshly-written task outputs under its unique commit dir — a
    # single-prefix list, read-after-write consistent on object stores
    from starlake_spark.listing import get_lister

    out = []
    for ent in get_lister().list_files(abs_dir):
        n = os.path.basename(ent.path)
        if n.endswith(".parquet") and not n.startswith((".", "_")):
            out.append(ent.path)
    return out


def _range_value_of(file_path: str, base_dir: str, range_cols: list[str]) -> str:
    """Recover 'k=v,...' from the hive-style directory fragments."""
    rel = os.path.relpath(os.path.dirname(file_path), base_dir)
    if rel == ".":
        return ""
    parts = [p for p in rel.split(os.sep) if "=" in p]
    decoded = {}
    for p in parts:
        k, _, v = p.partition("=")
        decoded[k] = unquote(v)
    return ",".join(f"{c}={decoded[c]}" for c in range_cols if c in decoded)


def zorder_value(df: DataFrame, cols: list[str]) -> "F.Column":
    """Morton (Z-order) key over ``cols``: each column scales to a
    k-bit rank against its commit-wide min/max (one tiny agg job —
    driver-resident model state, like the centroid matrices), then the
    per-column bits interleave into one long. Sorting by this key gives
    every output file a tight bounding box in EVERY clustered dimension,
    so footer-stats skipping fires for predicates on any of them — the
    multi-column upgrade over linear sort, which only bounds the prefix
    column. Strings fall back to a 16-bit hash (no locality — same
    trade Delta's OPTIMIZE makes); dates/timestamps cluster on epoch.
    Bit budget caps at 62/k so the key stays positive."""
    types = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"zorder column '{c}' not in data")
    k = len(cols)
    bits = min(16, 62 // k)

    def _as_num(c):
        if isinstance(types[c], T.DateType):
            return F.col(c).cast("timestamp").cast("double")
        return F.col(c).cast("double")

    numeric = [c for c in cols if not isinstance(types[c], T.StringType)]
    row = {}
    if numeric:
        aggs = []
        for c in numeric:
            aggs += [F.min(_as_num(c)).alias(f"mn_{c}"),
                     F.max(_as_num(c)).alias(f"mx_{c}")]
        row = df.agg(*aggs).collect()[0].asDict()

    z = F.lit(0).cast("long")
    top = (1 << bits) - 1
    for j, c in enumerate(cols):
        if isinstance(types[c], T.StringType):
            s = (F.abs(F.xxhash64(F.col(c))) % (1 << bits)).cast("long")
        else:
            mn, mx = row.get(f"mn_{c}"), row.get(f"mx_{c}")
            if mn is None or mx is None or mx == mn:
                s = F.lit(0).cast("long")
            else:
                scaled = (_as_num(c) - F.lit(float(mn))) / F.lit(float(mx - mn)) * top
                s = F.least(F.lit(top).cast("long"),
                            F.coalesce(F.floor(scaled), F.lit(0)).cast("long"))
        for i in range(bits):
            bit = F.shiftrightunsigned(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def write_files(
    spark: SparkSession,
    df: DataFrame,
    info: TableInfo,
    txn: Transaction,
    is_base: bool = False,
    check_invariants: bool = True,
    sort_columns: list[str] | None = None,
    target_files: int | None = None,
    cluster_mode: str = "linear",
    dedup_batch: bool = False,
) -> list[DataFileInfo]:
    """Write one commit's data files; returns their DataFileInfo rows.

    The caller adds them to ``txn`` and commits the manifest.

    ``sort_columns``: cluster the commit by these columns
    (repartitionByRange + per-file sort) so footer min/max bounds are
    tight — the layout knob behind compaction's OPTIMIZE-style rewrite.
    Incompatible with hash bucketing (bucket-by-key layout is a scan
    contract the clustered layout would violate).
    """
    df = normalize_for_write(df, info, enforce_schema=False)
    identity_ctx = None
    if is_base:
        # Column DEFAULT values (`default.<col>` table property — Delta
        # column-default analog): base/append writes that omit the
        # column materialize the default expression. Deliberately NOT
        # applied to delta (partial-column upsert) writes: there an
        # absent column means "leave the existing value alone" under
        # MoR merge, and a default fill would silently clobber it.
        declared = {f.name: f.dataType for f in table_schema(info).fields}
        for k, expr in sorted((info.configuration or {}).items()):
            if k.startswith("default."):
                c = k[len("default."):]
                if c in declared and c not in df.columns:
                    df = df.withColumn(c, F.expr(expr).cast(declared[c]))
        # Identity column (Delta GENERATED AS IDENTITY analog): a write
        # that omits the column gets engine-assigned ids — a block is
        # reserved under the commit lock (concurrent writers get
        # disjoint blocks, uniqueness needs no job coordination), rows
        # stamp base + monotonically_increasing_id() (gaps allowed, the
        # standard identity contract), and the finalize step below
        # reclaims the block's unused tail. Delta-style: delta/upsert
        # writes never stamp (absent column = keep existing under MoR).
        idcol = (info.configuration or {}).get("identity.column")
        if idcol and idcol in declared and idcol not in df.columns \
                and not _is_statically_empty(df):
            base, block = txn.store.reserve_identity(idcol)
            df = df.withColumn(
                idcol,
                (F.monotonically_increasing_id() + F.lit(base))
                .cast(declared[idcol]))
            identity_ctx = (idcol, base, block)
    if _is_statically_empty(df):
        return []  # schema-only commit: no rows, no job, no files
    if check_invariants:
        df = _invariant_guard(df, info, is_base=is_base)

    if sort_columns:
        if info.hash_cols:
            raise ValueError(
                "sort_columns clustering is for non-hash tables; hash "
                "tables are bucketed by key (TransactionalWrite.scala "
                "bucket layout) and already sorted within buckets")
        for c in sort_columns:
            if c not in df.columns:
                raise ValueError(f"sort column '{c}' not in data")
        n = target_files or spark.sparkContext.defaultParallelism
        if cluster_mode == "zorder" and len(sort_columns) > 1:
            zv = zorder_value(df, sort_columns)
            df = (df.withColumn("_star_zv", zv)
                    .repartitionByRange(n, F.col("_star_zv"))
                    .sortWithinPartitions("_star_zv")
                    .drop("_star_zv"))
        else:
            df = (df.repartitionByRange(n, *[F.col(c) for c in sort_columns])
                    .sortWithinPartitions(*sort_columns))
    elif info.hash_cols:
        # Bucketed layout: stable bucket assignment + in-file key sort
        # (TransactionalWrite.scala:125-129,183-211).
        if dedup_batch and dedup_eligible(info):
            # in-batch PK dedup rides THIS shuffle: the input-order id is
            # stamped pre-shuffle, and the window's clustering
            # (range+hash) is satisfied by hashpartitioning(hash_cols) —
            # Catalyst adds a sort, never a second exchange
            from pyspark.sql import Window

            df = df.withColumn("_sl_batch_ord",
                               F.monotonically_increasing_id())
            df = df.repartition(info.bucket_num,
                                *[F.col(c) for c in info.hash_cols])
            # mixed tombstone+postimage commits (upsert_with_tombstones):
            # a key carried by BOTH arms nets to the postimage — order
            # live rows (flag false) ahead of tombstones, then last
            # input order among live rows as usual
            ord_cols = [F.col("_sl_batch_ord").desc()]
            from starlake_spark.operators.reader import TOMBSTONE_COL as _TC
            if _TC in df.columns:
                ord_cols.insert(0, F.coalesce(F.col(_TC), F.lit(False)).asc())
            w = Window.partitionBy(*(info.range_cols + info.hash_cols)) \
                      .orderBy(*ord_cols)
            df = (df.withColumn("_sl_batch_rn", F.row_number().over(w))
                    .filter(F.col("_sl_batch_rn") == 1)
                    .drop("_sl_batch_ord", "_sl_batch_rn"))
        else:
            df = df.repartition(info.bucket_num,
                                *[F.col(c) for c in info.hash_cols])
        df = df.sortWithinPartitions(*(info.range_cols + info.hash_cols))
    else:
        # Optimized write: co-locate each range value before partitionBy,
        # else every task writes a file into every range directory
        # (task_count × range_count small files per commit — manifest
        # bloat and tiny parquet at scale). One shuffle buys one file
        # per range value; `write.files.per.partition` salts the shuffle
        # to split large partitions (or an unpartitioned table) across
        # that many files.
        files_per = int((info.configuration or {}).get("write.files.per.partition", "1"))
        range_exprs = [F.col(c) for c in info.range_cols]
        if files_per > 1:
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per))
            # explicit partition count: expression-only repartitions are
            # AQE-coalescable, which would collapse the salt fan-out on
            # small commits
            n = max(files_per, spark.sparkContext.defaultParallelism)
            df = df.repartition(n, *range_exprs, salt)
        elif range_exprs:
            df = df.repartition(*range_exprs)

    abs_dir = os.path.join(txn.store.table_path, txn.data_dir)
    writer = df.write.mode("overwrite").format("parquet")
    # Storage codec knob (reference default snappy,
    # StarLakeSQLConf.scala:255-271): `parquet.compression` table
    # property selects the codec per table — zstd trades write CPU for
    # ~30% smaller files, the right default for cold 100 TB archives.
    # Applies uniformly to every write path (append, upsert delta,
    # compaction rewrites); mixed-codec snapshots read fine.
    codec = (info.configuration or {}).get("parquet.compression")
    if codec:
        writer = writer.option("compression", codec)
    # Parquet-native Bloom filter indexes (point-lookup row-group
    # skipping INSIDE files — complements the manifest's min/max file
    # skipping, which equality predicates on high-cardinality unsorted
    # columns defeat). Spark's parquet reader consumes them
    # automatically on `col = x` pushdown; no custom read path. Default:
    # the hash (primary-key) columns; override with the
    # `bloom.index.cols` table property (comma-separated, '' disables).
    bloom_cols = (info.configuration or {}).get(
        "bloom.index.cols", ",".join(info.hash_cols))
    any_bloom = False
    for c in [c.strip() for c in bloom_cols.split(",") if c.strip()]:
        if c in df.columns:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            any_bloom = True
    if any_bloom:
        # Size the bloom bitset to the rows ACTUALLY written
        # (parquet-mr adaptive mode, PARQUET-2254): the default sizes
        # every bitset for parquet.bloom.filter.expected.ndv (1M) —
        # about 1 MB per file — regardless of content, so a small delta
        # commit (CDC trickle, MoR upsert, IVF cell files) was ~95%
        # bloom bitset by bytes. Adaptive mode tracks candidate bitsets
        # during the write and keeps the smallest one meeting the FPP
        # target, so small files carry KB-scale blooms while large
        # files keep the full-size bitset (verified: 2M-row file sizes
        # identically either way). Same FPP, same point-lookup
        # skipping; only the bitset allocation is right-sized.
        writer = writer.option("parquet.bloom.filter.adaptive.enabled",
                               "true")
    if info.range_cols:
        writer = writer.partitionBy(*info.range_cols)
    try:
        # Bucketed writes run without AQE too: file N must hold exactly
        # the rows with pmod(hash(hash_cols), bucket_num) = N. An input
        # already hash-partitioned on the key into bucket_num partitions
        # (a MoR collapse at shuffle.partitions == bucket_num) makes the
        # planner drop the bucket repartition as redundant, and AQE
        # would then coalesce that input exchange — one file holding
        # several buckets under a single bucket id.
        if info.hash_cols or _aqe_pointless(df):
            _save_no_aqe(spark, writer, abs_dir)
        else:
            writer.save(abs_dir)
    except Exception as exc:
        m = _INVARIANT_MSG_RE.search(str(exc))
        if m is None:
            raise
        # invariant tripped mid-write: the commit dir was never published
        # (manifest commit happens after), so just remove the partial files
        shutil.rmtree(abs_dir, ignore_errors=True)
        raise ValueError(m.group(1).split(" SQLSTATE")[0].strip()) from None

    # File-level Bloom index (operators/bloom.py): one extra job over
    # the just-written bytes builds per-file bitmaps for the declared
    # `bloom.file.cols` — plan-time whole-file skipping for point
    # lookups on high-cardinality unsorted columns, where min/max
    # stats never prune. O(commit data), distributed; only the
    # finished ≤16 KiB bitmaps reach the driver.
    from starlake_spark.operators import bloom as _bloom

    bloom_ref = None
    bcols = _bloom.eligible_bloom_cols(info, df.columns)
    if bcols:
        bloom_ref = _bloom.build_blooms(
            spark, abs_dir, txn.store.table_path, bcols, txn.commit_id)

    exist_cols = [c for c in df.columns if c not in info.range_cols]
    files = []
    for fp in _list_written_files(abs_dir):
        m = _BUCKET_RE.search(os.path.basename(fp))
        bucket = int(m.group(1)) if (m and info.hash_cols) else -1
        stats, num_rows = _footer_stats(fp)
        files.append(
            DataFileInfo(
                path=os.path.relpath(fp, txn.store.table_path),
                range_value=_range_value_of(fp, abs_dir, info.range_cols),
                bucket_id=bucket,
                size=os.path.getsize(fp),
                write_version=-1,  # assigned at manifest commit
                is_base_file=is_base,
                exist_cols=exist_cols,
                stats=stats,
                num_rows=num_rows,
                bloom_ref=bloom_ref,
            )
        )
    if identity_ctx and files:
        idcol, base, block = identity_ctx
        maxes = [(f.stats or {}).get(idcol, {}).get("max") for f in files]
        if all(isinstance(m, int) for m in maxes):
            observed = max(maxes)
            if observed >= base + block:
                raise ValueError(
                    f"identity block overflow on '{idcol}': observed max "
                    f"{observed} >= {base + block} (more than 2^11 write "
                    f"tasks in one commit?)")
            txn.store.finalize_identity(idcol, base, block, observed)
    return files


# Manifest string-stat budget (Delta truncates data-skipping string
# stats the same way): Spark's parquet writer does NOT truncate
# row-group min/max for strings, so a long-text column (a documents
# corpus) would otherwise push kilobytes of text into EVERY file's
# manifest entry — at a million files, gigabytes of metadata.
_STAT_MAX_LEN = 64


def _widen_truncate(s: str, n: int = _STAT_MAX_LEN) -> str | None:
    """Truncate an UPPER bound to ≤ n chars while keeping it an upper
    bound: cut to n, then increment the last incrementable character
    (skipping the surrogate gap). None when no prefix can be widened —
    caller drops the bounds pair (file always kept: safe)."""
    t = s[:n]
    for i in range(len(t) - 1, -1, -1):
        nxt = ord(t[i]) + 1
        if nxt == 0xD800:
            nxt = 0xE000  # first scalar above the surrogate gap
        if nxt <= 0x10FFFF:
            return t[:i] + chr(nxt)
    return None


def _json_safe_stat(v):
    """Footer min/max → JSON-serializable, ordering-preserving value.
    Temporals become ISO-8601 strings (lexicographic == chronologic);
    raw bytes are dropped (binary columns aren't skippable)."""
    import datetime
    import decimal

    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def _decimal_from_raw(raw, scale: int):
    """Parquet DECIMAL physical bound → decimal.Decimal: the raw value
    is the unscaled integer (INT32/INT64) or its big-endian
    two's-complement bytes (FLBA/BYTE_ARRAY)."""
    import decimal

    unscaled = (int.from_bytes(raw, "big", signed=True)
                if isinstance(raw, bytes) else int(raw))
    return decimal.Decimal(unscaled).scaleb(-scale)


def _footer_stats(fp: str) -> dict | None:
    """Per-column min/max from the already-written parquet footer — no
    second data scan (Delta computes the same bounds inside the write
    job; reading the freshly-written local footer is the no-shuffle
    equivalent). Parquet writers are required to WIDEN truncated
    min/max (min rounded down, max up), so footer bounds are always
    conservative — safe for file skipping. Columns with any row group
    missing bounds are omitted. Returns (stats, num_rows); num_rows is
    -1 when the footer is unreadable."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(fp).metadata
    except Exception:  # unreadable footer → no stats, file always kept
        return None, -1
    agg: dict[str, list] = {}
    dropped: set[str] = set()
    # null counts aggregate independently of min/max (an all-null
    # column has no bounds but a perfectly good null count — that is
    # exactly the file IS NULL / IS NOT NULL skipping wants)
    nulls: dict[str, int] = {}
    null_dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested fields: not skippable
                continue
            st = col.statistics
            if name not in null_dropped:
                nc = None if st is None else st.null_count
                if nc is None:
                    null_dropped.add(name)
                    nulls.pop(name, None)
                else:
                    nulls[name] = nulls.get(name, 0) + nc
            if name in dropped:
                continue
            if st is None or not st.has_min_max:
                dropped.add(name)
                agg.pop(name, None)
                continue
            # aggregate TYPED bounds across row groups — rendering to
            # JSON-safe strings happens ONCE at the end, so Decimal and
            # temporal values order by VALUE here, never lexically
            # ("9.5" < "10.0" as decimals, not as strings)
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't render this type's typed statistics —
                # notably parquet logical DECIMAL, whose bounds we
                # recover from the PHYSICAL min/max (unscaled int /
                # big-endian two's-complement FLBA). Anything else
                # fails OPEN for the column (readers treat missing
                # stats as "could contain anything") — never the WRITE.
                mn = mx = None
                try:
                    lt = st.logical_type
                    if lt is not None and str(lt.type) == "DECIMAL":
                        scale = json.loads(lt.to_json())["scale"]
                        mn = _decimal_from_raw(st.min_raw, scale)
                        mx = _decimal_from_raw(st.max_raw, scale)
                except Exception:
                    mn = mx = None
            if mn is None or mx is None or isinstance(mn, bytes):
                dropped.add(name)
                agg.pop(name, None)
                continue
            if name in agg:
                agg[name][0] = min(agg[name][0], mn)
                agg[name][1] = max(agg[name][1], mx)
            else:
                agg[name] = [mn, mx]
    out: dict[str, dict] = {}
    for k, (mn_t, mx_t) in agg.items():
        mn, mx = _json_safe_stat(mn_t), _json_safe_stat(mx_t)
        if mn is None or mx is None:
            continue
        # bound TRUE string stats (not Decimal/temporal renderings,
        # which are short and must parse back exactly): min by prefix
        # cut (still a lower bound), max by widen-truncate
        if isinstance(mn_t, str) and len(mn) > _STAT_MAX_LEN:
            mn = mn[:_STAT_MAX_LEN]
        if isinstance(mx_t, str) and len(mx) > _STAT_MAX_LEN:
            mx = _widen_truncate(mx)
        out[k] = {"min": mn, "max": mx}
    for k, n in nulls.items():
        out.setdefault(k, {})["nulls"] = n
    return (out or None, md.num_rows)
