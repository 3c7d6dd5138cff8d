"""The closed-loop workloads (one client, seeded).

Each workload builds its tables (``build``, timed several times),
warms up, and then runs *cycles* in ``run`` until the run time is spent. A cycle is the workload's unit of
client work; every operation in it is timed on its own and its result
is kept for the oracle, which checks everything after the timed loop.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

from pyspark.sql import functions as F

import gen
from oracle import Oracle


class Recorder:
    """Times operations, counts failures and defers oracle checks."""

    def __init__(self, spark, tracer=None) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.checks: list = []  # (kind, check() -> bool)
        self.groups: dict[str, list[str]] = {}  # kind -> Spark job groups
        self.layer: dict[str, list[float]] = {}  # per-op layer counts
        self.manifest_bytes = 0  # _star_meta bytes the loop added

    def op(self, kind: str, fn):
        """Run one operation; returns its result, or None if it raised."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.op = self.attempted
            gid = f"bench-{self.attempted}"
            self.sc.setJobGroup(gid, kind)
            self.groups.setdefault(kind, []).append(gid)
            span = tr.begin("op." + kind)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if tr is not None:
                tr.end(span)
                self.sc.setJobGroup("bench-idle", "between operations")
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def read(self, kind: str, plan, action, count_files: str | None = None):
        """A read op: ``plan()`` builds the DataFrame (reader.scan runs
        here), ``action(df)`` executes it. Traced runs time the action as
        ``reader.exec`` and record the scan's input files."""
        tr = self.tracer

        def run():
            df = plan()
            if tr is None:
                return action(df)
            i = tr.begin("reader.exec")
            try:
                return action(df)
            finally:
                tr.end(i)
                if count_files:
                    self.note(count_files, len(df.inputFiles()))
        return self.op(kind, run)

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def check(self, kind: str, fn) -> None:
        self.checks.append((kind, fn))

    def verify(self) -> list[str]:
        """Run the deferred oracle checks; a rejected result is a failed
        operation. Returns the kinds that failed."""
        bad = []
        for kind, fn in self.checks:
            try:
                ok = fn()
            except Exception:  # noqa: BLE001 - an unreadable result is a wrong one
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                bad.append(kind)
        return bad

    def job_counts(self) -> dict[str, list[int]]:
        """Spark jobs per operation, by kind (traced runs only)."""
        st = self.sc.statusTracker()
        return {k: [len(st.getJobIdsForGroup(g)) for g in gs]
                for k, gs in self.groups.items()}


def _rows(df) -> dict[int, tuple]:
    return {r[0]: tuple(r) for r in df.select(*gen.FULL_COLS).collect()}


def _in_list(keys) -> str:
    return ", ".join(str(int(k)) for k in keys)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def live_bytes(table) -> int:
    """Bytes of the data files the latest snapshot references."""
    return sum(max(f.size, 0) for f in table.store.snapshot().all_files())


class Workload:
    """Shared state of one run: session, directories, inputs, oracle."""

    setup_reps = 2

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.oracle = Oracle()
        self.input_bytes = 0
        self.detail: dict = {}

    def add_input(self, bno: int, table, partial: bool = False) -> str:
        path = os.path.join(self.inputs, f"b{bno:05d}.parquet")
        self.input_bytes += gen.write(table, path)
        self.oracle.add(bno, path, partial)
        return path

    def source(self, path: str):
        return self.spark.read.parquet(path)

    def timed_setup(self) -> tuple[list[float], float]:
        """Build the workload's tables ``setup_reps`` times in fresh
        directories, then warm up the last build, which the run uses.
        Returns (seconds per build, warm-up seconds)."""
        times = []
        for rep in range(self.setup_reps):
            t0 = time.perf_counter()
            self.build(os.path.join(self.work, f"rep{rep}"))
            times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.warm_up()
        return times, time.perf_counter() - t0

    def table_dirs(self) -> list[str]:
        return [self.table_dir]

    def manifest_bytes(self) -> int:
        return sum(dir_bytes(os.path.join(d, "_star_meta")) for d in self.table_dirs())

    def last_bno(self) -> int:
        return self.bno

    def upsert_times(self, rec: Recorder) -> list[float]:
        return rec.samples["upsert"]

    def close(self) -> None:
        self.oracle.close()


class IngestMV(Workload):
    """Skewed upsert stream into a range(8) x hash(4 buckets) table with
    auto-compaction at its default; every 4th batch is partial-column.
    An incremental sum/count GROUP BY MV over the table is refreshed and
    queried through StarSession.sql once per cycle.

    A cycle = ``upserts_per_cycle`` x (upsert + read-your-write lookups),
    then the MV refresh and the dashboard query. Five upserts is also the
    engine's auto-compaction cadence, so each cycle holds one compaction
    and throughput does not depend on where the clock ran out."""

    n_base = 100_000
    batch = 4_000
    new_per_batch = 200
    partial_every = 4
    upserts_per_cycle = 5
    lookups_per_upsert = 2
    dash_groups = 32
    MV_SQL = "SELECT g, sum(v) AS total, count(*) AS n FROM src GROUP BY g"
    DASH_SQL = ("SELECT g, sum(v) AS total, count(*) AS n FROM src "
                f"WHERE g < {dash_groups} GROUP BY g")

    def prepare_inputs(self) -> None:
        self.base = self.add_input(0, gen.rows(range(self.n_base), self.seed, 0))
        self.bno = 0
        self.warm = self.next_batch()[2]

    def next_batch(self):
        self.bno += 1
        b = self.bno
        keys = gen.batch_keys(self.seed, b, self.batch, self.n_base,
                              new_per_batch=self.new_per_batch)
        partial = gen.is_partial(b, self.partial_every)
        path = self.add_input(b, gen.rows(keys, self.seed, b, partial), partial)
        return b, keys, path

    def table_dirs(self) -> list[str]:
        return [self.table_dir, self.mv_dir]

    def build(self, root: str) -> None:
        from starlake_spark import StarSession, create_table
        from starlake_spark.plans import mv

        wh = os.path.join(root, "wh")
        self.table_dir = os.path.join(root, "t")
        self.mv_dir = os.path.join(root, "mv")
        self.session = StarSession(self.spark, warehouse=wh)
        self.table = create_table(
            self.spark, self.source(self.base), self.table_dir,
            range_partitions=["p"], hash_partitions=["k"], hash_bucket_num=4,
            short_name="src", warehouse=wh)
        self.session.register("src", self.table)
        mv.create_material_view(self.session, "mv_agg", self.mv_dir, self.MV_SQL)

    def warm_up(self) -> None:
        """Batch 1 of the stream, a lookup, a refresh and a query."""
        from starlake_spark.plans import mv

        self.table.upsert(self.source(self.warm))
        self.table.to_df(where="k = 0").collect()
        mv.update_material_view(self.session, "mv_agg")
        self.session.sql(self.DASH_SQL).collect()

    def run(self, rec: Recorder, seconds: float) -> None:
        from starlake_spark.plans import mv

        t, sess = self.table, self.session
        start = time.perf_counter()
        rows_in = 0
        while time.perf_counter() - start < seconds:
            batches = [self.next_batch() for _ in range(self.upserts_per_cycle)]
            sources = [self.source(path) for _b, _k, path in batches]
            c0 = time.perf_counter()
            for (b, keys, _path), src in zip(batches, sources):
                rec.op("upsert", lambda: t.upsert(src))
                rows_in += len(keys)
                for j in range(self.lookups_per_upsert):
                    k = int(keys[gen.pick(self.seed, b, 7 + j, len(keys))])
                    got = rec.read("lookup", lambda k=k: t.to_df(where=f"k = {k}"),
                                   _rows, "reader.files_per_lookup")
                    if got is not None:
                        rec.check("lookup", lambda k=k, got=got, b=b:
                                  self.oracle.rows(b, [k]) == got)
            rec.op("mv_refresh", lambda: mv.update_material_view(sess, "mv_agg"))
            if rec.tracer is not None:
                rec.note("mv.incremental", self._incremental())
            got = rec.op("mv_query", lambda: {
                r[0]: (r[1], r[2]) for r in sess.sql(self.DASH_SQL).collect()})
            if got is not None:
                rec.check("mv_query", lambda b=b, got=got:
                          self.oracle.group_agg(b, self.dash_groups) == got)
            rec.cycles.append(time.perf_counter() - c0)
        self.detail["ingest_rows_per_s"] = rows_in / sum(rec.cycles)

    def _incremental(self) -> float:
        """1 if the last refresh took the incremental path: the backing
        table's newest commit is a delta commit whose txn:mv_refresh
        stamp has reached the source's latest version."""
        from starlake_spark import StarTable

        snap = StarTable.for_path(self.spark, self.mv_dir).store.snapshot()
        stamp = max((v for k, v in snap.streaming.items()
                     if k.startswith("txn:mv_refresh:")), default=-1)
        return float(snap.commit_type != "write"
                     and stamp == self.table.store.latest_version())

    def final_check(self, rec: Recorder) -> None:
        upto = self.bno
        got = tuple(self.table.to_df().select(
            F.count("*"), F.sum("v"), F.sum(F.length("tag")),
            F.min("x"), F.max("x")).collect()[0])
        rec.check("final_state", lambda: self.oracle.table_summary(upto) == got)


class MorRead(Workload):
    """A table frozen at setup: base + 8 delta commits concentrated on
    2 hot range partitions, compaction.auto=false (9 versions, more than
    ManifestStore's 8-entry snapshot cache). A cycle = one round
    of the read mix."""

    n_base = 100_000
    batch = 4_000
    deltas = 8
    hot = 2
    point_lookups = 12
    in_lookups = 2
    in_keys = 8
    time_travel = 2

    def last_bno(self) -> int:
        return self.deltas

    def upsert_times(self, rec: Recorder) -> list[float]:
        """The frozen table's delta commits, timed in every build but
        the first (which still runs while the JIT compiles)."""
        return [x for rep in self.build_upserts[1:] for x in rep]

    def prepare_inputs(self) -> None:
        self.build_upserts: list[list[float]] = []
        self.scanned = 0
        self.paths = [self.add_input(0, gen.rows(range(self.n_base), self.seed, 0))]
        for b in range(1, self.deltas + 1):
            keys = gen.batch_keys(self.seed, b, self.batch, self.n_base,
                                  ranges=gen.hot_ranges(self.seed, self.hot))
            self.paths.append(self.add_input(b, gen.rows(keys, self.seed, b)))

    def build(self, root: str) -> None:
        from starlake_spark import create_table

        self.table_dir = os.path.join(root, "t")
        self.table = create_table(
            self.spark, self.source(self.paths[0]), self.table_dir,
            range_partitions=["p"], hash_partitions=["k"], hash_bucket_num=4,
            configuration={"compaction.auto": "false"})
        self.versions = [self.table.store.latest_version()]
        times = []
        self.build_upserts.append(times)
        for p in self.paths[1:]:
            src = self.source(p)
            t0 = time.perf_counter()
            self.table.upsert(src)
            times.append(time.perf_counter() - t0)
            self.versions.append(self.table.store.latest_version())

    def warm_up(self) -> None:
        """One unrecorded short round: the JIT is still compiling the
        read paths after the builds, which only wrote."""
        self._round(Recorder(self.spark), 1_000_000, point_lookups=2)

    def run(self, rec: Recorder, seconds: float) -> None:
        start = time.perf_counter()
        self.scanned = 0
        op = 0
        while True:
            c0 = time.perf_counter()
            op = self._round(rec, op)
            rec.cycles.append(time.perf_counter() - c0)
            if time.perf_counter() - start >= seconds:
                break
        self.detail["scan_rows_per_s"] = self.scanned / sum(rec.samples["scan"])
        if rec.tracer is not None:
            rec.note("reader.delta_files_max", max(
                ps.delta_file_num
                for ps in self.table.store.snapshot().partitions.values()))

    def _round(self, rec: Recorder, op: int, point_lookups: int | None = None) -> int:
        """One round of the read mix; ``op`` numbers the seeded choices.
        Returns the next op number."""
        t, seed, last = self.table, self.seed, self.deltas
        got = rec.read("scan", lambda: t.to_df(), lambda df: tuple(df.agg(
            F.count("*"), F.sum("v"), F.sum(F.length("tag")),
            F.min("x"), F.max("x")).collect()[0]), "reader.files_per_scan")
        if got is not None:
            self.scanned += got[0]
            rec.check("scan", lambda: self.oracle.table_summary(last) == got)
        op += 1
        # one hot (merge-on-read) and one cold (base-only) partition
        hot = gen.hot_ranges(seed, self.hot)
        cold = [r for r in range(gen.N_RANGE) if r not in hot]
        ranges = sorted([hot[gen.pick(seed, op, 1, len(hot))],
                         cold[gen.pick(seed, op, 2, len(cold))]])
        agg = rec.read("range_agg", lambda: t.to_df(
            where=f"p IN ({_in_list(ranges)})"), lambda df: {
                r[0]: tuple(r[1:]) for r in df.groupBy("p").agg(
                    F.count("*"), F.sum("v"), F.min("x"), F.max("x")).collect()})
        if agg is not None:
            rec.check("range_agg", lambda: self.oracle.range_agg(last, ranges) == agg)
        for _ in range(point_lookups or self.point_lookups):
            op += 1
            self._lookup(rec, op, 1, None)
        for _ in range(self.in_lookups):
            op += 1
            self._lookup(rec, op, self.in_keys, None)
        for _ in range(self.time_travel):
            op += 1
            self._lookup(rec, op, 1, gen.pick(seed, op, 3, len(self.versions)))
        return op

    def _lookup(self, rec, op, n, vidx) -> None:
        keys = gen.lookup_keys(self.seed, op, n, self.n_base)
        where = f"k = {keys[0]}" if n == 1 else f"k IN ({_in_list(keys)})"
        if vidx is None:
            kind, upto = "lookup", self.deltas
            plan = lambda: self.table.to_df(where=where)  # noqa: E731
        else:
            kind, upto = "time_travel", vidx
            v = self.versions[vidx]
            plan = lambda: self.table.to_df(version=v, where=where)  # noqa: E731
        got = rec.read(kind, plan, _rows, "reader.files_per_lookup")
        if got is not None:
            rec.check(kind, lambda: self.oracle.rows(upto, keys) == got)

    def final_check(self, rec: Recorder) -> None:
        pass  # every scan is already checked against the final state


WORKLOADS = {
    "ingest_mv": IngestMV,
    "mor_read": MorRead,
}
