"""File-based manifest metastore (replaces the reference's Cassandra service).

The reference keeps table/partition/file/version state in a Cassandra
keyspace (reference: meta/MetaTableManage.scala:48-286) with an
undo-log + LWT-lock commit protocol (meta/MetaCommit.scala:35-100).
Here the same logical API — getTableInfo / getAllPartitionInfo /
getSinglePartitionDataInfo / commit — is served from a per-table
manifest directory with atomic rename commits, the Delta/Iceberg-style
design the reference itself vendored but never wired up
(storage/HadoopFileSystemLogStore.scala).

Layout under ``<table_path>/_star_meta``::

    table_info.json                 # TableInfo
    versions/v{N:012d}.json         # snapshot state at commit N:
                                    #   full checkpoint, or a delta
                                    #   ("base_version" + touched
                                    #   partitions only)
    _commit.lock                    # exclusive-create mutex

Commits are log + checkpoint manifests (Delta-style): a commit
serializes ONLY the partitions it touched plus a ``base_version``
pointer, and every ``FULL_SNAPSHOT_INTERVAL``-th version is a full
checkpoint — so commit metadata I/O is O(touched files), not O(table
files), which is the difference between a 100 TB / million-file table
committing kilobytes vs hundreds of megabytes of manifest per write.
Reading ``snapshot(V)`` resolves the (≤ interval-long) chain back to
the nearest checkpoint; version files are immutable and never deleted
(vacuum removes data files only), so a delta's base always exists.
MVCC time travel and the reference's visibility rule
(write_version <= read_version < expire_version,
meta/DataOperation.scala:100-113) are implied by membership: a file is
in snapshot V iff it was added at or before V and not yet expired.
Commit data files live under ``data/<commit_uuid>/`` so half-written
files are never visible — visibility is manifest membership, not
directory listing.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field, asdict
from typing import Any, Iterable

MAX_VERSION = 2**62
META_DIR = "_star_meta"
# Reference: meta.commit.timeout 20s (StarLakeSQLConf.scala:184-191) —
# but that guards a ms-latency Cassandra hop. Our lock brackets a local
# manifest write that contends with Spark jobs for the same cores, so
# under a saturated host 8 queued writers can legitimately wait longer
# than 20s. 60s keeps the liveness guarantee without spurious timeouts.
LOCK_TIMEOUT_S = float(os.environ.get("STARLAKE_COMMIT_TIMEOUT_S", "60"))
# stale-break threshold lives with the file provider (locking.py);
# kept here as the documented default for test/docs references
STALE_LOCK_S = 120.0
# Every Nth version is a full checkpoint; the versions between are
# delta-encoded (touched partitions + base pointer). 1 = always full.
# Overridable per table via configuration "meta.checkpoint.interval".
FULL_SNAPSHOT_INTERVAL = 10


class MetaError(Exception):
    pass


class TableNotFoundError(MetaError):
    pass


class CommitConflictError(MetaError):
    pass


class DuplicateTxnError(MetaError):
    """An idempotent transaction (query_id/app_id + monotonic version)
    was already committed — the retry must become a no-op."""


@dataclass
class TableInfo:
    """Reference: utils/MetaData.scala:54-117 (TableInfo)."""

    table_path: str
    table_id: str
    schema_json: str  # Spark StructType.json(), like MetaData.scala:72-75
    range_cols: list[str] = field(default_factory=list)
    hash_cols: list[str] = field(default_factory=list)
    bucket_num: int = -1
    configuration: dict[str, str] = field(default_factory=dict)
    short_name: str | None = None
    is_material_view: bool = False
    mv_info: dict[str, Any] | None = None  # sql_text / fingerprints / auto_update
    # monotonic CAS counter for table_info updates (the reference's
    # TableInfo.schema_version, MetaData.scala:66 + takeSchemaLock,
    # MetaCommit.scala:432-470): every update_table_info bumps it and
    # refuses to publish over a version the caller never read —
    # concurrent ALTERs surface as 'Schema has been changed for table'
    # instead of silently losing one. 0 on pre-feature manifests.
    schema_version: int = 0

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "TableInfo":
        return TableInfo(**json.loads(s))


@dataclass
class DataFileInfo:
    """Reference: utils/MetaData.scala:121-139 (DataFileInfo)."""

    path: str  # relative to table root
    range_value: str  # 'k=v,k2=v2' encoding (MetaUtils.scala:185-206); '' if none
    bucket_id: int
    size: int
    write_version: int
    is_base_file: bool
    exist_cols: list[str]  # file_exist_cols (MetaData.scala:127)
    # per-column {"min": v, "max": v} harvested from the parquet footer
    # at write time (JSON-safe: temporals as ISO strings, decimals as
    # strings). None on files written before stats existed, or columns
    # whose footer bounds were absent — readers must treat missing as
    # "could contain anything". Beyond the reference (its DataFileInfo
    # carries no stats); Delta-style data skipping.
    stats: dict | None = None
    # footer row count harvested at write time; -1 on files written
    # before the field existed. Powers zero-job size/row estimates
    # (StarTable.stats) for parameter defaulting and join-size hints —
    # at 100 TB an operator must never run a full-scan count just to
    # pick a knob.
    num_rows: int = -1
    # manifest-relative path of the per-commit Bloom sidecar holding
    # this file's bitmaps (operators/bloom.py), None when the table has
    # no `bloom.file.cols` — readers fail open on missing/absent blooms.
    # Shallow clones rewrite it absolute alongside the data path.
    bloom_ref: str | None = None

    def key(self) -> str:
        return self.path


@dataclass
class PartitionSnapshot:
    range_value: str
    files: list[DataFileInfo]
    last_update_version: int
    # Deletion vectors (Delta DV analog, beyond the reference): sidecar
    # parquets of (_star_fid, _star_pos) row positions logically deleted
    # from this partition's files. Non-hash tables only (hash tables
    # use key tombstones). Scans anti-join them; compaction rewrites
    # materialize and clear them. DataFileInfo is reused: path = the
    # sidecar file, num_rows = deleted-position count (exact — each DV
    # commit's candidate scan is itself DV-filtered, so positions never
    # overlap across commits), range_value = this partition.
    dv_files: list[DataFileInfo] = field(default_factory=list)

    @property
    def delta_file_num(self) -> int:
        return sum(1 for f in self.files if not f.is_base_file)

    @property
    def dv_row_count(self) -> int:
        """Total deleted positions, or -1 if any DV lacks a count."""
        if any(d.num_rows < 0 for d in self.dv_files):
            return -1
        return sum(d.num_rows for d in self.dv_files)


@dataclass
class Snapshot:
    """Reference: Snapshot.scala:27-89 — immutable versioned view."""

    version: int
    partitions: dict[str, PartitionSnapshot]
    streaming: dict[str, int]  # query_id -> last committed batch_id
    timestamp: float
    commit_type: str = "write"  # the commit that produced this version
    # schema AS OF this commit (Delta-style versioned schema): time
    # travel reads old versions under the columns they had then, not
    # the current projection. ALTERs between commits surface at the
    # NEXT commit; None (pre-feature manifests) falls back to current.
    schema_json: str | None = None
    # pointer to the newest commit that EMBEDDED a full TableInfo
    # (schema-overwrite, metadata-in-log) and that info's
    # schema_version, propagated through every later plain commit.
    # Lets _heal_table_info find a crashed overwriteSchema even after
    # later data commits bury its version file, in O(1) reads — no
    # backscan. 0 = none known (pre-feature manifests).
    last_info_commit: int = 0
    last_info_version: int = 0

    def all_files(self) -> list[DataFileInfo]:
        return [f for p in self.partitions.values() for f in p.files]

    def to_state(self) -> dict:
        return {
            "version": self.version,
            "timestamp": self.timestamp,
            "commit_type": self.commit_type,
            "schema_json": self.schema_json,
            "last_info_commit": self.last_info_commit,
            "last_info_version": self.last_info_version,
            "streaming": self.streaming,
            "partitions": {
                rv: {
                    "last_update_version": p.last_update_version,
                    "files": [asdict(f) for f in p.files],
                    **({"dv_files": [asdict(d) for d in p.dv_files]}
                       if p.dv_files else {}),
                }
                for rv, p in self.partitions.items()
            },
        }

    @staticmethod
    def from_state(d: dict) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            timestamp=d.get("timestamp", 0.0),
            commit_type=d.get("commit_type", "write"),
            schema_json=d.get("schema_json"),
            last_info_commit=d.get("last_info_commit", 0),
            last_info_version=d.get("last_info_version", 0),
            streaming=dict(d.get("streaming", {})),
            partitions={
                rv: PartitionSnapshot(
                    range_value=rv,
                    last_update_version=pd["last_update_version"],
                    files=[DataFileInfo(**f) for f in pd["files"]],
                    dv_files=[DataFileInfo(**f)
                              for f in pd.get("dv_files", [])],
                )
                for rv, pd in d.get("partitions", {}).items()
            },
        )


def encode_range_value(range_cols: list[str], values: Iterable[Any]) -> str:
    """'k=v,k2=v2' partition key encoding (reference MetaUtils.scala:185-206)."""
    return ",".join(f"{c}={v}" for c, v in zip(range_cols, values))


def decode_range_value(range_value: str) -> dict[str, str]:
    if not range_value:
        return {}
    out = {}
    for kv in range_value.split(","):
        k, _, v = kv.partition("=")
        out[k] = v
    return out


class Transaction:
    """Accumulates adds/expires; applied atomically by ManifestStore.commit.

    Reference analogue: TransactionCommit.scala:106-395 (thread-local tc
    recording new/expired files) collapsed into an explicit object.
    """

    def __init__(self, store: "ManifestStore", read_snapshot: Snapshot):
        self.store = store
        self.read_snapshot = read_snapshot
        self.commit_id = uuid.uuid4().hex[:12]
        self.add: list[DataFileInfo] = []
        # deletion-vector sidecars to attach (range_value names the
        # partition); conflicts with ANY concurrent commit touching the
        # same partition (positions were computed against its files)
        self.add_dvs: list[DataFileInfo] = []
        self.expire: set[str] = set()  # file paths (relative)
        self.expire_partitions: set[str] = set()  # whole range_values
        self.streaming_update: tuple[str, int] | None = None
        # cursor RECORDS (vs the gated streaming_update): raw registry
        # keys advanced monotonically (max) in the same commit, with no
        # duplicate-txn gating. Used by MV/rollup FULL refreshes to
        # stamp the consumed source versions atomically with the
        # overwrite — a crash before the caller's own registry save can
        # then never make a later incremental resume re-apply a window
        # the overwrite already contains.
        self.stamp_updates: dict[str, int] = {}
        # cursor RESETS: unconditional assignments applied AFTER the
        # monotonic stamp_updates merge. Needed when a consumed source
        # ROLLED BACK (recreated at the same path / versions pruned): a
        # full-rebuild overwrite pins the rollup/MV content to the new
        # source version exactly, so the stale higher stamp must come
        # DOWN with it in the same commit — the max-merge (and the
        # gated streaming registry, which treats lower versions as
        # replays and silently no-ops) would otherwise serve the
        # pre-rollback content forever.
        self.stamp_resets: dict[str, int] = {}
        # 'write' | 'delta' | 'update' | 'delete' | 'compact' — the
        # reference's tc.setCommitType (TransactionCommit.scala:150-156);
        # change-stream readers skip 'compact' (logically a no-op rewrite)
        self.commit_type = "write"
        # Part-merge commits (PartMergeTransactionCommit,
        # StarLakePartFileMerge.scala:83 newFiles.copy(write_version=0))
        # publish files that must sort BEFORE the partition's remaining
        # delta versions in the MoR collapse — they keep the
        # caller-stamped write_version instead of the new commit version.
        self.preserve_write_versions = False
        # overwriteSchema: the REPLACEMENT TableInfo to publish
        # atomically WITH this commit (reference/Delta replace metadata
        # and data in one commit). When set, the version file is stamped
        # with the new schema and table_info.json is swapped in the same
        # critical section as the version CAS — a commit that fails or
        # loses the CAS leaves the old schema fully intact, so readers
        # never see the new schema over the old data files.
        self.new_table_info: TableInfo | None = None
        self.committed = False

    @property
    def data_dir(self) -> str:
        """Directory (relative to table root) for this commit's files."""
        return f"data/{self.commit_id}"

    def add_files(self, files: Iterable[DataFileInfo]) -> None:
        self.add.extend(files)

    def expire_files(self, paths: Iterable[str]) -> None:
        self.expire.update(paths)

    def expire_partition(self, range_value: str) -> None:
        self.expire_partitions.add(range_value)

    def set_streaming_batch(self, query_id: str, batch_id: int) -> None:
        self.streaming_update = (query_id, batch_id)

    def touched_ranges(self) -> set[str] | None:
        """The partition ``range_value``s this transaction writes — the
        commit-lock scope (reference MetaCommit.takePartitionsWriteLock,
        MetaCommit.scala:334-430, locks exactly the commit's
        partitionInfoArray). ``None`` means the scope cannot be proven
        (an expired path outside the read snapshot) and the commit must
        take the table-wide lock instead."""
        ranges: set[str] = set()
        for f in self.add:
            ranges.add(f.range_value)
        for d in self.add_dvs:
            ranges.add(d.range_value)
        ranges.update(self.expire_partitions)
        if self.expire:
            path_to_range = {
                f.path: f.range_value
                for f in self.read_snapshot.all_files()
            }
            for p in self.expire:
                rv = path_to_range.get(p)
                if rv is None:
                    return None
                ranges.add(rv)
        return ranges


def _atomic_write(path: str, content: str) -> None:
    """Atomic REPLACE — for genuinely replaceable metadata only
    (table_info.json). Version files must never go through here:
    rename clobbers, and version files are immutable and unique per
    number (see :func:`_exclusive_write`)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


class VersionExistsError(MetaError):
    """The version number being published already has a committed file —
    a fenced-out holder lost the publish race to its successor."""


def _exclusive_write(path: str, content: str) -> None:
    """Exclusive-create publish for IMMUTABLE version files: the write
    lands at the final name only if nothing is there, so publication is
    a filesystem compare-and-swap. A holder that passed ``validate()``
    and then stalled past its lease (arbiter restart without
    persistence, >TTL partition) physically cannot overwrite a
    successor's already-published version file — its publish raises
    :class:`VersionExistsError` instead of silently clobbering, with no
    timing assumptions. Durability matches ``_atomic_write``: content is
    fsynced before the name becomes visible (``os.link`` from a synced
    temp, falling back to an ``O_CREAT|O_EXCL`` copy on filesystems
    without hard links)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.unlink(tmp)
        raise VersionExistsError(
            f"version file already published by a concurrent committer: "
            f"{path}")
    except OSError:
        # hard links unsupported (some network/FUSE stores): exclusive
        # create + copy keeps the no-clobber guarantee
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            os.unlink(tmp)
            raise VersionExistsError(
                f"version file already published by a concurrent "
                f"committer: {path}")
        with os.fdopen(fd, "w") as out:
            out.write(content)
            out.flush()
            os.fsync(out.fileno())
    try:
        os.unlink(tmp)
    except FileNotFoundError:
        pass


class ManifestStore:
    """Per-table manifest state with atomic-rename commits."""

    def __init__(self, table_path: str):
        self.table_path = os.path.abspath(table_path)
        self.meta_dir = os.path.join(self.table_path, META_DIR)
        self.versions_dir = os.path.join(self.meta_dir, "versions")
        self._info_cache: TableInfo | None = None
        # table/publish lock handles THIS instance currently holds
        # (file provider is non-reentrant): _heal_table_info defers its
        # disk repair when non-empty instead of self-deadlocking on a
        # second acquire (e.g. _publish_serialized's build reads
        # table_info(refresh=True) under the table lock)
        self._held_locks: list = []
        # log version the heal last checked: refresh reads happen per
        # scan, so without this the heal would re-parse the latest
        # version file on every query — once per tip move is enough
        # (a crashed overwrite can only appear with a new version)
        self._heal_checked_v = -1
        # committed version files are immutable, so resolved snapshots
        # are safe to cache by number (bounded LRU; cleared on
        # create/drop so a same-path recreate can't serve stale state)
        self._snap_cache: dict[int, Snapshot] = {}

    # ---------- existence / creation ----------

    @staticmethod
    def is_star_table(path: str) -> bool:
        return os.path.isfile(os.path.join(path, META_DIR, "table_info.json"))

    def exists(self) -> bool:
        return ManifestStore.is_star_table(self.table_path)

    def create(self, info: TableInfo) -> None:
        if self.exists():
            raise MetaError(f"table already exists at {self.table_path}")
        os.makedirs(self.versions_dir, exist_ok=True)
        _atomic_write(os.path.join(self.meta_dir, "table_info.json"), info.to_json())
        empty = Snapshot(version=0, partitions={}, streaming={}, timestamp=time.time())
        _exclusive_write(self._version_path(0), json.dumps(empty.to_state()))
        self._info_cache = info
        self._snap_cache.clear()

    def drop(self) -> None:
        import shutil

        if os.path.isdir(self.table_path):
            shutil.rmtree(self.table_path)
        self._info_cache = None
        self._snap_cache.clear()

    # ---------- table info ----------

    def table_info(self, refresh: bool = False) -> TableInfo:
        if self._info_cache is None or refresh:
            p = os.path.join(self.meta_dir, "table_info.json")
            if not os.path.isfile(p):
                raise TableNotFoundError(f"not a star table: {self.table_path}")
            with open(p) as f:
                self._info_cache = TableInfo.from_json(f.read())
            # every cold or refresh read re-checks the log: a live
            # writer whose cache predates a crashed overwriteSchema
            # would otherwise serve (and stamp) the stale schema until
            # some other process cold-opens the table. The check is one
            # small version-file read — commit-path cadence, not
            # per-row.
            self._heal_table_info()
        return self._info_cache

    def _heal_table_info(self) -> None:
        """Self-heal the overwriteSchema crash window (Delta's
        metadata-in-log model): a schema-overwrite commit embeds its
        replacement TableInfo in the version file it CASes
        (_build_commit), and the ``table_info.json`` swap follows in
        the same critical section (_publish_version). A crash BETWEEN
        the two leaves the new schema committed in the log but the old
        info served — so on every cold/refresh info read, the log's
        newest embedded info, if newer by schema_version, is
        authoritative and repairs ``table_info.json`` in place.

        The latest version file need not be the overwrite itself:
        later plain commits propagate a (last_info_commit,
        last_info_version) pointer, so the divergence stays detectable
        in O(1) reads after any number of data commits bury the
        crashed overwrite. The in-memory heal is unconditional (the
        log is authoritative); the disk repair takes the table lock,
        and is deferred when this instance already holds it (the file
        provider is non-reentrant — the next lock-free read repairs)."""
        try:
            v = self.latest_version()
        except (MetaError, OSError):
            return
        if v == self._heal_checked_v:
            return
        try:
            d = self._read_version_state(v)
        except (MetaError, OSError):
            return
        emb = d.get("table_info")
        if emb is None and d.get("last_info_version", 0) > \
                self._info_cache.schema_version:
            # a newer embedded info exists in an EARLIER version file
            # (overwrite crashed, plain commits piled on) — follow the
            # pointer; the target may be legitimately pruned, in which
            # case the divergence was healed before the prune
            try:
                emb = self._read_version_state(
                    d["last_info_commit"]).get("table_info")
            except (MetaError, OSError, KeyError):
                emb = None
        if not emb or emb.get("schema_version", 0) <= \
                self._info_cache.schema_version:
            self._heal_checked_v = v
            return
        # the log's committed info is authoritative for THIS process
        # regardless of whether the disk repair lands below
        self._info_cache = TableInfo(**emb)
        if self._held_locks:
            # disk repair deferred (lock held): leave _heal_checked_v
            # unset so the next lock-free read persists the repair
            return
        self._heal_checked_v = v
        lock = self._acquire_lock()
        try:
            p = os.path.join(self.meta_dir, "table_info.json")
            with open(p) as f:
                disk = TableInfo.from_json(f.read())
            if emb["schema_version"] > disk.schema_version:
                healed = TableInfo(**emb)
                _atomic_write(p, healed.to_json())
                self._info_cache = healed
            else:
                self._info_cache = disk
        finally:
            self._release_lock(lock)

    def update_table_info(self, info: TableInfo) -> None:
        """Publish new table metadata under the table lock with a CAS
        on ``schema_version`` (reference takeSchemaLock,
        MetaCommit.scala:432-470): ``info`` must descend from a read of
        the CURRENT on-disk state — if another updater published since,
        this raises instead of silently reverting their change. Callers
        re-read (``table_info(refresh=True)``) and retry."""
        lock = self._acquire_lock()
        try:
            self._update_info_under_lock(info)
        finally:
            self._release_lock(lock)

    def _update_info_under_lock(self, info: TableInfo) -> None:
        """CAS body of :meth:`update_table_info`, for callers already
        holding the table lock (identity reservation)."""
        p = os.path.join(self.meta_dir, "table_info.json")
        if os.path.isfile(p):
            with open(p) as f:
                disk_version = TableInfo.from_json(f.read()).schema_version
            if disk_version != info.schema_version:
                raise MetaError(
                    f"Schema has been changed for table {self.table_path}: "
                    f"expected metadata version {info.schema_version}, "
                    f"found {disk_version} — a concurrent ALTER landed; "
                    "re-read the table info and retry (reference "
                    "MetaCommit.takeSchemaLock, MetaCommit.scala:432-470)")
        info.schema_version += 1
        _atomic_write(p, info.to_json())
        self._info_cache = info

    # ---------- snapshots ----------

    def _version_path(self, v: int) -> str:
        return os.path.join(self.versions_dir, f"v{v:012d}.json")

    # strictly committed manifests only: _atomic_write's in-flight temp
    # files (v....json.tmp.<hex>) live in the same dir and also start
    # with "v" — matching them would let a reader observe a version
    # number before its rename lands (a real race under concurrent
    # writers)
    _VERSION_RE = re.compile(r"^v(\d{12})\.json$")

    def _version_numbers(self) -> list[int]:
        try:
            names = os.listdir(self.versions_dir)
        except FileNotFoundError:
            raise TableNotFoundError(f"not a star table: {self.table_path}")
        return [int(m.group(1)) for n in names
                if (m := self._VERSION_RE.match(n))]

    def latest_version(self) -> int:
        versions = self._version_numbers()
        if not versions:
            raise MetaError("no committed versions")
        return max(versions)

    def _read_version_state(self, v: int) -> dict:
        p = self._version_path(v)
        if not os.path.isfile(p):
            raise MetaError(f"version {v} does not exist for {self.table_path}")
        with open(p) as f:
            return json.load(f)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Resolve version state: walk delta files back to the nearest
        full checkpoint (≤ FULL_SNAPSHOT_INTERVAL hops — commit() never
        delta-encodes past one), then replay touched-partition updates
        forward. Delta replay is whole-partition replacement, so order
        within the chain only matters per range_value and newest wins."""
        v = self.latest_version() if version is None else version
        cached = self._snap_cache.get(v)
        if cached is not None:
            return cached
        chain: list[dict] = []
        cur = v
        while True:
            d = self._read_version_state(cur)
            if "base_version" not in d:
                base = Snapshot.from_state(d)
                break
            chain.append(d)
            cur = d["base_version"]
        if chain:
            parts = dict(base.partitions)
            for d in reversed(chain):
                for rv in d.get("removed_partitions", ()):
                    parts.pop(rv, None)
                for rv, pd in d.get("partitions", {}).items():
                    parts[rv] = PartitionSnapshot(
                        range_value=rv,
                        last_update_version=pd["last_update_version"],
                        files=[DataFileInfo(**f) for f in pd["files"]],
                        dv_files=[DataFileInfo(**f)
                                  for f in pd.get("dv_files", [])],
                    )
            top = chain[0]
            base = Snapshot(
                version=v,
                partitions=parts,
                streaming=dict(top.get("streaming", {})),
                timestamp=top.get("timestamp", 0.0),
                commit_type=top.get("commit_type", "write"),
                schema_json=top.get("schema_json"),
                last_info_commit=top.get("last_info_commit", 0),
                last_info_version=top.get("last_info_version", 0),
            )
        if len(self._snap_cache) >= 8:
            self._snap_cache.pop(next(iter(self._snap_cache)))
        self._snap_cache[v] = base
        return base

    def list_versions(self) -> list[int]:
        return sorted(self._version_numbers())

    # ---------- commit protocol ----------

    def new_transaction(self) -> Transaction:
        return Transaction(self, self.snapshot())

    def _acquire_lock(self):
        """Take the table's commit lock via the registered LockProvider
        (locking.py — reference meta/MetaLock.scala:19-50 as a seam:
        file-lock default, multi-host arbiters pluggable)."""
        from starlake_spark import locking

        try:
            handle = locking.get_lock_provider().acquire(
                self.meta_dir, self.table_path, LOCK_TIMEOUT_S)
        except TimeoutError as e:
            raise MetaError(str(e)) from e
        self._held_locks.append(handle)
        return handle

    def _release_lock(self, handle) -> None:
        from starlake_spark import locking

        for i, h in enumerate(self._held_locks):
            if h is handle:
                del self._held_locks[i]
                break
        locking.get_lock_provider().release(handle)

    def _validate_lock(self, handle) -> bool:
        """Fencing check immediately before the atomic publish: a
        leased provider (TCP arbiter) whose lease was lost mid-critical
        -section must fail the publish, not race the successor. The
        default providers always return True."""
        from starlake_spark import locking

        return locking.get_lock_provider().validate(handle)

    # reference meta.commit.max.attempts default = 5
    # (StarLakeSQLConf.scala:213-220; MetaCommit.scala:86-92 raises
    # commitFailedReachLimit past it)
    COMMIT_MAX_ATTEMPTS = 5
    # beyond this many touched partitions, per-partition locks cost
    # more than they save (N provider round-trips) — take the table lock
    PARTITION_LOCK_MAX = 16
    # scope key of the publish micro-lock; \x00 cannot appear in a
    # partition range_value (they are "col=value,..." strings)
    PUBLISH_SCOPE = "\x00publish"

    def _acquire_publish_lock(self):
        """The PUBLISH micro-lock: every version-file publication —
        commit() fast path, commit() fallback, _publish_serialized —
        holds it around the ``_exclusive_write``. It is the universal
        arbiter that makes progress provable: a builder holding it
        knows the tip cannot move until it releases, so the commit
        fallback (build UNDER this lock) always lands in one attempt.
        Held for ~ms on fast paths; across one O(partitions) build in
        the rare fallback. With a provider that does NOT support
        scopes, the plain table lock plays this role (every publisher
        takes it — the pre-partition-lock protocol)."""
        from starlake_spark import locking

        provider = locking.get_lock_provider()
        try:
            if getattr(provider, "supports_scopes", False):
                handle = provider.acquire_scoped(
                    self.meta_dir, self.table_path, LOCK_TIMEOUT_S,
                    scope=self.PUBLISH_SCOPE)
            else:
                handle = provider.acquire(self.meta_dir, self.table_path,
                                          LOCK_TIMEOUT_S)
        except TimeoutError as e:
            raise MetaError(str(e)) from e
        # tracked for the heal-deferral check: with an unscoped
        # provider this IS the table lock; with scopes, a heal firing
        # under the publish lock would acquire table-under-publish —
        # the ABBA inversion — so defer in that case too
        self._held_locks.append(handle)
        return handle

    def _acquire_commit_locks(self, txn: Transaction) -> list:
        """PARTITION-SCOPED write locks (reference
        MetaCommit.takePartitionsWriteLock, MetaCommit.scala:334-430):
        one lock per touched range_value, acquired in SORTED order
        (the reference sorts by range_id — same deadlock avoidance).
        Writers to disjoint partitions proceed fully in parallel;
        same-partition writers block instead of burning conflict
        rebuilds. Falls back to the table-wide lock when the scope
        cannot be proven, is empty (metadata-only commits), or exceeds
        PARTITION_LOCK_MAX."""
        from starlake_spark import locking

        provider = locking.get_lock_provider()
        if not getattr(provider, "supports_scopes", False):
            # unscoped provider: the table lock doubles as the publish
            # lock (_acquire_publish_lock), so no scope locks are
            # needed — the pre-partition-lock protocol, verbatim
            return []
        scopes = txn.touched_ranges()
        # schema-overwrite commits take the TABLE lock, always, and take
        # it HERE — before the publish micro-lock — so (a)
        # _publish_version's info swap runs under a lock the caller
        # already holds (never re-acquired: the file provider is
        # non-reentrant, a second acquire self-deadlocks), and (b) the
        # lock order is globally table→publish (acquiring the table
        # lock inside _publish_version, i.e. under the publish lock,
        # was an ABBA inversion against the fallback path)
        if txn.new_table_info is not None or not scopes \
                or len(scopes) > self.PARTITION_LOCK_MAX:
            return [self._acquire_lock()]
        handles: list = []
        try:
            for rv in sorted(scopes):
                handles.append(provider.acquire_scoped(
                    self.meta_dir, self.table_path, LOCK_TIMEOUT_S,
                    scope=rv))
        except TimeoutError as e:
            for h in reversed(handles):
                provider.release(h)
            raise MetaError(str(e)) from e
        except BaseException:
            for h in reversed(handles):
                provider.release(h)
            raise
        return handles

    def commit(self, txn: Transaction) -> Snapshot:
        """Apply a transaction: one new immutable snapshot version.

        Mirrors MetaCommit.doMetaCommit (MetaCommit.scala:35-100) at the
        reference's concurrency granularity: PER-PARTITION write locks
        (takePartitionsWriteLock, MetaCommit.scala:334-430) are held for
        the touched ranges only, so writers to DISJOINT partitions
        overlap the entire commit — build, conflict detection, and
        publish. Safety never rests on the locks: the version file is
        published via :func:`_exclusive_write` (a filesystem
        compare-and-swap — succeeding at version N+1 proves no commit
        landed after the tip N the payload was built against, which is
        exactly what makes the build's conflict detection sound). The
        locks exist for throughput and liveness: same-partition writers
        BLOCK on each other instead of losing the CAS and rebuilding,
        matching the reference's lock-then-commit shape. A lost CAS can
        therefore only come from a writer in a foreign scope — rebuild
        against the new tip and retry, up to COMMIT_MAX_ATTEMPTS
        (reference MetaUtils.MAX_COMMIT_ATTEMPTS → commitFailedReachLimit,
        MetaCommit.scala:86-92), each loss implying another writer's
        commit landed (global progress).
        """
        if txn.committed:
            raise MetaError("transaction already committed")
        locks = self._acquire_commit_locks(txn)
        try:
            for _ in range(self.COMMIT_MAX_ATTEMPTS):
                # optimistic attempt: the O(table-state) build runs with
                # only the scope locks held, overlapping fully across
                # disjoint-partition writers; the publish micro-lock
                # guards just the ~ms tip-check + CAS
                current = self.snapshot()
                snap, payload = self._build_commit(txn, current)
                pub = self._acquire_publish_lock()
                try:
                    if self.latest_version() == current.version:
                        if not all(self._validate_lock(h)
                                   for h in locks + [pub]):
                            raise MetaError(
                                f"commit lock lost during commit on "
                                f"{self.table_path} (lease expired or "
                                "arbiter restarted) — retry")
                        # _exclusive_write is the LAST line of defense:
                        # a fenced-out holder that bypassed the publish
                        # lock (stalled past TTL) raises here instead of
                        # clobbering — treated as a lost CAS, rebuild.
                        try:
                            self._publish_version(txn, snap, payload)
                        except VersionExistsError:
                            continue
                        self._snap_cache[snap.version] = snap
                        txn.committed = True
                        return snap
                finally:
                    self._release_lock(pub)
                # tip moved: a foreign-scope commit landed between our
                # read and the publish lock — rebuild against the new
                # tip (conflict detection re-runs there and decides
                # retry vs CommitConflictError)
            # guaranteed fallback (contention defeated every optimistic
            # attempt; each loss = someone ELSE committed, so the table
            # made progress — but this writer needs a turn): build
            # UNDER the publish lock. Every publisher holds that lock,
            # so the tip cannot move during the build and this publish
            # cannot lose the CAS — a VersionExistsError here means a
            # fenced-out holder violated the lock and is surfaced
            # loudly rather than retried.
            pub = self._acquire_publish_lock()
            try:
                current = self.snapshot()
                snap, payload = self._build_commit(txn, current)
                if not all(self._validate_lock(h) for h in locks + [pub]):
                    raise MetaError(
                        f"commit lock lost during commit on "
                        f"{self.table_path} (lease expired or arbiter "
                        "restarted) — retry")
                self._publish_version(txn, snap, payload)
                self._snap_cache[snap.version] = snap
                txn.committed = True
                return snap
            finally:
                self._release_lock(pub)
        finally:
            for h in reversed(locks):
                self._release_lock(h)

    def _publish_version(self, txn: Transaction, snap: Snapshot,
                         payload: str) -> None:
        """Version-file CAS publish. Schema-overwrite commits
        (``txn.new_table_info``) swap ``table_info.json`` in the SAME
        critical section as the version CAS, under the table lock so no
        concurrent ALTER can interleave: the schema_version guard runs
        BEFORE anything is published (a concurrent ALTER fails the
        whole write with nothing visible — files stay unpublished
        orphans until vacuum), and the info swap runs only AFTER the
        version CAS succeeded (a lost CAS or crash pre-publish leaves
        the old schema fully intact, never the new schema over old
        data files). Reference analogue: Delta/reference replace
        metadata and data in one atomic commit.

        Lock invariant: for schema-overwrite commits the CALLER already
        holds the table lock — _acquire_commit_locks returns it for any
        txn with ``new_table_info`` (scoped providers), and with an
        unscoped provider the publish lock held around this call IS the
        table lock. Nothing is (re-)acquired here: the file provider is
        non-reentrant, so a second acquire would self-deadlock, and
        taking the table lock under the publish lock inverted the
        global table→publish order."""
        if txn.new_table_info is None:
            _exclusive_write(self._version_path(snap.version), payload)
            return
        p = os.path.join(self.meta_dir, "table_info.json")
        with open(p) as f:
            disk_version = TableInfo.from_json(f.read()).schema_version
        if disk_version != txn.new_table_info.schema_version:
            raise MetaError(
                f"Schema has been changed for table {self.table_path}"
                f": a concurrent ALTER landed during an "
                f"overwriteSchema write (expected metadata version "
                f"{txn.new_table_info.schema_version}, found "
                f"{disk_version}); nothing was published — "
                "re-validate against the new schema and retry")
        _exclusive_write(self._version_path(snap.version), payload)
        self._update_info_under_lock(txn.new_table_info)

    def _build_commit(self, txn: Transaction,
                      current: Snapshot) -> tuple[Snapshot, str]:
        """Construct the next snapshot + its serialized manifest payload
        against ``current`` (lock-free), raising the commit-conflict /
        idempotence errors. Safe to call repeatedly for CAS retries:
        every mutation is either on fresh per-call copies or an
        idempotent reassignment (write_version stamps on txn file infos).
        """
        # idempotence gate, re-validated on every CAS attempt (a
        # pre-write check alone loses the race between two retries of
        # the same batch): monotonic per registry key, as the
        # reference's StreamingRecord.getBatchId guard
        # (StarLakeSink.scala:60-63)
        if txn.streaming_update is not None:
            qid, bid = txn.streaming_update
            if current.streaming.get(qid, -1) >= bid:
                raise DuplicateTxnError(
                    f"transaction '{qid}' version {bid} already committed "
                    f"(have {current.streaming.get(qid)})"
                )
        if current.version > txn.read_snapshot.version:
            # Another commit landed. Conflict iff it expired files we
            # also expire, or touched partitions we fully rewrite.
            live = {f.path for f in current.all_files()}
            for p in txn.expire:
                if p not in live:
                    raise CommitConflictError(
                        f"file {p} expired by a concurrent commit"
                    )
            # A full-partition expire (compaction / partition rewrite)
            # blanks whatever the partition holds AT COMMIT TIME — if
            # a concurrent commit touched the partition since our read
            # snapshot, committing would silently drop its files
            # (MetaCommit.scala:700-712 partition-version conflict).
            for rv in txn.expire_partitions:
                cur_ps = current.partitions.get(rv)
                if cur_ps and cur_ps.last_update_version > txn.read_snapshot.version:
                    raise CommitConflictError(
                        f"partition '{rv}' changed by a concurrent commit "
                        f"(v{cur_ps.last_update_version} > read "
                        f"v{txn.read_snapshot.version}); retry the rewrite"
                    )
        new_version = current.version + 1
        partitions = {
            rv: PartitionSnapshot(rv, list(ps.files),
                                  ps.last_update_version,
                                  dv_files=list(ps.dv_files))
            for rv, ps in current.partitions.items()
        }
        touched: set[str] = set()
        for rv in txn.expire_partitions:
            if rv in partitions:
                # full-partition rewrite reads the DV-filtered view,
                # so the rewrite MATERIALIZES the deletions — clear
                # the vectors along with the files
                partitions[rv].files = []
                partitions[rv].dv_files = []
                touched.add(rv)
        if txn.expire:
            for ps in partitions.values():
                before = len(ps.files)
                ps.files = [f for f in ps.files if f.path not in txn.expire]
                if len(ps.files) != before:
                    touched.add(ps.range_value)
        for f in txn.add:
            if not (txn.preserve_write_versions and 0 <= f.write_version):
                f.write_version = new_version
            ps = partitions.get(f.range_value)
            if ps is None:
                ps = PartitionSnapshot(f.range_value, [], new_version)
                partitions[f.range_value] = ps
            ps.files.append(f)
            touched.add(f.range_value)
        for d in txn.add_dvs:
            ps = partitions.get(d.range_value)
            if ps is None or not ps.files:
                raise CommitConflictError(
                    f"deletion vector targets partition "
                    f"'{d.range_value}' which a concurrent commit "
                    f"emptied; retry the delete")
            if (current.version > txn.read_snapshot.version
                    and ps.last_update_version
                    > txn.read_snapshot.version):
                raise CommitConflictError(
                    f"partition '{d.range_value}' changed since the "
                    f"deletion vector's positions were computed "
                    f"(v{ps.last_update_version} > read "
                    f"v{txn.read_snapshot.version}); retry the delete")
            d.write_version = new_version
            ps.dv_files = list(ps.dv_files) + [d]
            touched.add(d.range_value)
        for rv in touched:
            if rv in partitions:
                partitions[rv].last_update_version = new_version
        partitions = {rv: ps for rv, ps in partitions.items() if ps.files}
        streaming = dict(current.streaming)
        if txn.streaming_update is not None:
            qid, bid = txn.streaming_update
            streaming[qid] = bid
        for k, v in txn.stamp_updates.items():
            # monotonic cursor records: never move a stamp backward
            streaming[k] = max(streaming.get(k, -1), v)
        for k, v in txn.stamp_resets.items():
            # unconditional: re-anchors cursors after a source rollback
            streaming[k] = v
        if txn.new_table_info is not None:
            last_info_commit = new_version
            last_info_version = txn.new_table_info.schema_version + 1
        else:
            last_info_commit = current.last_info_commit
            last_info_version = current.last_info_version
        snap = Snapshot(
            version=new_version,
            partitions=partitions,
            streaming=streaming,
            timestamp=time.time(),
            commit_type=txn.commit_type,
            last_info_commit=last_info_commit,
            last_info_version=last_info_version,
            # refresh: the versioned-schema stamp must be the CURRENT
            # declared schema at commit time — a concurrent ALTER landed
            # between this writer's read and its commit would otherwise
            # get its schema silently reverted in this version's stamp.
            # A schema-overwrite commit stamps ITS replacement schema
            # (published with the same CAS in _publish_version).
            schema_json=(txn.new_table_info.schema_json
                         if txn.new_table_info is not None
                         else self.table_info(refresh=True).schema_json),
        )
        interval = FULL_SNAPSHOT_INTERVAL
        cfg = self.table_info().configuration.get("meta.checkpoint.interval")
        if cfg is not None:
            interval = int(cfg)
        if interval > 1 and new_version % interval != 0:
            # delta version file: touched partitions only, O(touched
            # files) serialization — never materialize the full
            # inventory as JSON on the commit path
            state = {
                "version": new_version,
                "timestamp": snap.timestamp,
                "commit_type": snap.commit_type,
                "schema_json": snap.schema_json,
                "last_info_commit": snap.last_info_commit,
                "last_info_version": snap.last_info_version,
                "streaming": snap.streaming,
                "base_version": current.version,
                "removed_partitions": [
                    rv for rv in current.partitions if rv not in partitions],
                "partitions": {
                    rv: {
                        "last_update_version": partitions[rv].last_update_version,
                        "files": [asdict(f) for f in partitions[rv].files],
                        **({"dv_files": [asdict(d)
                                         for d in partitions[rv].dv_files]}
                           if partitions[rv].dv_files else {}),
                    }
                    for rv in touched if rv in partitions
                },
            }
        else:
            state = snap.to_state()
        if txn.new_table_info is not None:
            # metadata-in-log (Delta model): the version file carries
            # the FULL replacement TableInfo at its post-publish
            # schema_version, so a crash between the version CAS and
            # the table_info.json swap self-heals on the next cold
            # read (_heal_table_info) instead of serving stale
            # aliases/markers until the next successful commit
            emb = json.loads(txn.new_table_info.to_json())
            emb["schema_version"] = txn.new_table_info.schema_version + 1
            state["table_info"] = emb
        return snap, json.dumps(state)

    def _publish_serialized(self, build) -> Snapshot:
        """Publish a TABLE-WIDE snapshot (restore, clone import/sync)
        under the table lock + the publish micro-lock. Since commit()
        takes PARTITION-scoped locks, the table lock alone no longer
        excludes partition committers — building UNDER the publish lock
        does: every publisher holds it, so the tip cannot move between
        this build and its ``_exclusive_write``, and the publish lands
        in one attempt. These builds are O(partitions) dict copies, so
        the serialization window stays small; admin-op frequency makes
        it irrelevant. With an unscoped provider the table lock IS the
        publish lock (every publisher takes it), so no second acquire.
        ``build(current_snapshot) -> (snap, payload)``."""
        from starlake_spark import locking

        scoped = getattr(locking.get_lock_provider(),
                         "supports_scopes", False)
        lock = self._acquire_lock()
        try:
            pub = self._acquire_publish_lock() if scoped else None
            try:
                current = self.snapshot()
                snap, payload = build(current)
                if not all(self._validate_lock(h)
                           for h in ([lock, pub] if scoped else [lock])):
                    raise MetaError(
                        f"commit lock lost during publish on "
                        f"{self.table_path} (lease expired or arbiter "
                        "restarted) — retry")
                _exclusive_write(self._version_path(snap.version), payload)
                self._snap_cache[snap.version] = snap
                return snap
            finally:
                if pub is not None:
                    self._release_lock(pub)
        finally:
            self._release_lock(lock)

    # ---------- restore / clone ----------

    def import_state(
        self, partitions: dict[str, "PartitionSnapshot"], commit_type: str,
        min_version: int = 0,
    ) -> Snapshot:
        """Publish a new version whose partition state is supplied
        verbatim — files keep their ORIGINAL write_version so MoR
        collapse ordering survives (a Transaction would re-stamp them).
        Used by restore (rewind to an old snapshot) and clone import.

        ``min_version`` floors the published version: clone passes the
        max write_version of the imported files so every POST-import
        commit stamps a strictly higher write_version — otherwise a
        clone of snapshot N>=2 would hand out write_version 2,3,... to
        new commits while imported files already carry up to N, and the
        MoR max_by collapse would prefer stale source rows over fresh
        upserts (or tie nondeterministically)."""
        def build(current: Snapshot) -> tuple[Snapshot, str]:
            new_version = max(current.version + 1, min_version)
            snap = Snapshot(
                version=new_version,
                partitions={
                    rv: PartitionSnapshot(rv, list(ps.files), new_version,
                                          dv_files=list(ps.dv_files))
                    for rv, ps in partitions.items()
                },
                streaming=dict(current.streaming),
                timestamp=time.time(),
                commit_type=commit_type,
                schema_json=self.table_info(refresh=True).schema_json,
                last_info_commit=current.last_info_commit,
                last_info_version=current.last_info_version,
            )
            return snap, json.dumps(snap.to_state())

        return self._publish_serialized(build)

    # ---------- identity columns ----------

    # One commit's id block: monotonically_increasing_id packs
    # (partition_id << 33 | row), so 2^44 covers 2^11 write tasks of
    # 2^33 rows each; 2^63 / 2^44 ≈ 500k un-reclaimed blocks. The
    # finalize step reclaims the unused tail whenever no concurrent
    # reservation landed, so serial writers consume ids densely.
    IDENTITY_BLOCK = 1 << 44

    def reserve_identity(self, col: str) -> tuple[int, int]:
        """Reserve an id block for one write: bump the high-water mark
        by IDENTITY_BLOCK under the commit lock and return (base,
        block). Concurrent writers get disjoint blocks, so identity
        values are unique without coordinating the write jobs
        themselves (Delta's identity reservation discipline)."""
        lock = self._acquire_lock()
        try:
            info = self.table_info(refresh=True)
            key = f"identity.highwater.{col}"
            base = int((info.configuration or {}).get(key, "1"))
            info.configuration[key] = str(base + self.IDENTITY_BLOCK)
            self._update_info_under_lock(info)
            return base, self.IDENTITY_BLOCK
        finally:
            self._release_lock(lock)

    def finalize_identity(self, col: str, base: int, block: int,
                          observed_max: int) -> None:
        """After the write: reclaim the reserved block's unused tail.
        Only safe when the high-water mark still sits at our
        reservation top (no concurrent reservation since) — otherwise
        leave it; the gap is permanent but identity permits gaps."""
        lock = self._acquire_lock()
        try:
            info = self.table_info(refresh=True)
            key = f"identity.highwater.{col}"
            if int((info.configuration or {}).get(key, "1")) == base + block:
                info.configuration[key] = str(max(observed_max + 1, base))
                self._update_info_under_lock(info)
        finally:
            self._release_lock(lock)

    def sync_partitions(self, updates: dict[str, "PartitionSnapshot | None"],
                        commit_type: str = "clone_sync") -> Snapshot:
        """Replace (or drop, value None) the given partitions wholesale
        in one commit, preserving the supplied files' write_versions —
        the clone-sync primitive: O(changed partitions) metadata, zero
        data movement. The published version is floored at the max
        imported write_version so post-sync local commits always stamp
        strictly higher (same discipline as clone/import_state)."""
        def build(current: Snapshot) -> tuple[Snapshot, str]:
            parts = {
                rv: PartitionSnapshot(rv, list(ps.files),
                                      ps.last_update_version,
                                      dv_files=list(ps.dv_files))
                for rv, ps in current.partitions.items()
            }
            max_wv = current.version
            for rv, ps in updates.items():
                if ps is None:
                    parts.pop(rv, None)
                    continue
                for f in list(ps.files) + list(ps.dv_files):
                    max_wv = max(max_wv, f.write_version)
            new_version = max(current.version + 1, max_wv)
            for rv, ps in updates.items():
                if ps is not None:
                    parts[rv] = PartitionSnapshot(
                        rv, list(ps.files), new_version,
                        dv_files=list(ps.dv_files))
            snap = Snapshot(
                version=new_version,
                partitions=parts,
                streaming=dict(current.streaming),
                timestamp=time.time(),
                commit_type=commit_type,
                schema_json=self.table_info(refresh=True).schema_json,
                last_info_commit=current.last_info_commit,
                last_info_version=current.last_info_version,
            )
            return snap, json.dumps(snap.to_state())

        return self._publish_serialized(build)

    def version_at_timestamp(self, ts: float) -> int:
        """Latest committed version whose commit timestamp <= ``ts``
        (Delta TIMESTAMP AS OF resolution). O(versions) driver-side
        header reads — timestamps live in every version file directly,
        no checkpoint-chain resolution needed."""
        best = None
        for v in self.list_versions():
            d = self._read_version_state(v)
            if d.get("timestamp", 0.0) <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise MetaError(
                f"no snapshot at or before timestamp {ts} "
                f"(table created later)")
        return best

    def restore(self, version: int, partition: str | None = None) -> Snapshot:
        """RESTORE TABLE TO VERSION: a NEW commit re-pointing the table
        at an old snapshot's exact file state (Delta-style RESTORE).
        History is preserved — time travel to the interim versions still
        works — and the restored files keep their write_versions, so a
        restored MoR state still merges in the original order. Fails if
        cleanup() already removed any file the target version needs.

        ``partition`` (beyond Delta — surgical rollback): rewind ONE
        range partition to its state at ``version``, leaving every
        other partition at its CURRENT state. The merge happens under
        the commit lock against the state read there, so concurrent
        commits to other partitions are never clobbered. A partition
        absent at the target version is dropped (its rollback state is
        'did not exist')."""
        target = self.snapshot(version)
        if partition is None:
            check = list(target.all_files()) + [
                d for ps in target.partitions.values() for d in ps.dv_files]
        else:
            if (partition not in target.partitions
                    and partition not in self.snapshot().partitions):
                raise MetaError(f"unknown partition '{partition}'")
            check = (list(target.partitions[partition].files)
                     + list(target.partitions[partition].dv_files)) \
                if partition in target.partitions else []
        missing = [
            f.path
            for f in check
            if not os.path.exists(os.path.join(self.table_path, f.path))
        ]
        if missing:
            raise MetaError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) removed by cleanup, e.g. {missing[0]}"
            )
        if partition is None:
            return self.import_state(target.partitions, commit_type="restore")
        def build(current: Snapshot) -> tuple[Snapshot, str]:
            new_version = current.version + 1
            parts = {
                rv: PartitionSnapshot(rv, list(ps.files),
                                      ps.last_update_version,
                                      dv_files=list(ps.dv_files))
                for rv, ps in current.partitions.items() if rv != partition
            }
            tps = target.partitions.get(partition)
            if tps is not None and tps.files:
                parts[partition] = PartitionSnapshot(
                    partition, list(tps.files), new_version,
                    dv_files=list(tps.dv_files))
            snap = Snapshot(
                version=new_version,
                partitions=parts,
                streaming=dict(current.streaming),
                timestamp=time.time(),
                commit_type="restore",
                schema_json=self.table_info(refresh=True).schema_json,
                last_info_commit=current.last_info_commit,
                last_info_version=current.last_info_version,
            )
            return snap, json.dumps(snap.to_state())

        return self._publish_serialized(build)

    # ---------- cleanup support ----------

    def expire_manifests(self, retention_s: float,
                         dry_run: bool = False) -> list[int]:
        """Manifest log retention (Delta logRetentionDuration analog):
        delete version files strictly below the NEWEST full checkpoint
        that is (a) older than the retention window and (b) not the
        latest version — every surviving version still resolves (a
        delta's chain can never cross below a checkpoint), and the
        expired versions' exclusive file references become vacuumable,
        exactly Delta's log-cleanup semantics. Time travel / RESTORE to
        an expired version fails with 'version does not exist'. Without
        this, a streaming sink committing every few seconds for a year
        leaves millions of files in versions/. Deletion happens under
        the commit lock; like Delta, a reader resolving a chain while
        its versions expire is excluded by retention ≫ query lifetime,
        not by locking."""
        cutoff = time.time() - retention_s
        versions = self.list_versions()
        if len(versions) <= 1:
            return []
        latest = versions[-1]
        anchor = None
        for v in versions:
            if v == latest:
                break
            d = self._read_version_state(v)
            if "base_version" not in d and d.get("timestamp", 0.0) <= cutoff:
                anchor = v
        if anchor is None:
            return []
        doomed = [v for v in versions if v < anchor]
        if not doomed or dry_run:
            return doomed
        lock = self._acquire_lock()
        try:
            for v in doomed:
                try:
                    os.unlink(self._version_path(v))
                except FileNotFoundError:
                    pass
                self._snap_cache.pop(v, None)
        finally:
            self._release_lock(lock)
        return doomed

    def referenced_files(self, since_version: int = 0) -> set[str]:
        refs: set[str] = set()
        for v in self.list_versions():
            if v >= since_version:
                snap = self.snapshot(v)
                refs.update(f.path for f in snap.all_files())
                refs.update(d.path for ps in snap.partitions.values()
                            for d in ps.dv_files)
        return refs
