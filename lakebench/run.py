"""Lakehouse benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload ingest_mv --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Drives ``starlake_spark`` through its
public API from this one process on ``local[<cpus>]``, as a closed loop
with one client. Prints a detail line (environment, per-kind latencies
and sample counts) and, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".lakebench_work")
TAIL_BEYOND = 10  # the tail is the highest order statistic with 10 samples beyond it


def machine() -> tuple[int, int]:
    """(usable CPUs, driver heap in GiB sized to a quarter of RAM, 1..4)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return cpus, max(1, min(4, kib // (4 * 1024 * 1024)))


def pin_environment(cpus: int, mem_g: int) -> None:
    """Confine Spark, the engine and temp files to a fresh scratch root
    inside the checkout; must run before pyspark starts its JVM."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_g}g",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "STARLAKE_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}'",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
            "pyspark-shell"]),
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples beyond it. Needs TAIL_BEYOND + 1 samples."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs {TAIL_BEYOND + 1} samples, got {n}")
    return sorted(samples)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def ms(xs: list[float]) -> float:
    return 1000.0 * statistics.median(xs)


def end_to_end(w, rec, setup_s: float) -> dict:
    from workloads import dir_bytes, live_bytes

    plain = os.path.join(WORK, "plain_state.parquet")
    w.oracle.write_state(w.last_bno(), plain)
    return {
        "setup_s": (setup_s, "s"),
        "cycles_per_s": (len(rec.cycles) / sum(rec.cycles), "1/s"),
        "upsert_p50_ms": (ms(w.upsert_times(rec)), "ms"),
        "lookup_p50_ms": (ms(rec.samples["lookup"]), "ms"),
        "space_amp": (live_bytes(w.table) / os.path.getsize(plain), "ratio"),
        "write_amp": (sum(dir_bytes(d) for d in w.table_dirs()) / w.input_bytes,
                      "ratio"),
    }


def per_kind(rec) -> dict:
    """Median, tail and sample count of every operation kind."""
    out = {}
    for kind, xs in sorted(rec.samples.items()):
        d = {"n": len(xs), "p50_s": statistics.median(xs),
             "samples_s": [round(x, 4) for x in xs]}
        if len(xs) > TAIL_BEYOND:
            d["tail_s"], d["tail_pct"] = tail(xs)
        out[kind] = d
    return out


def per_layer(tracer, rec, session_s: float) -> dict:
    import spans

    tot = spans.totals(tracer.spans)
    sp = tracer.spans

    def self_per_call(name):
        t = tot.get(name)
        return t["self_s"] / t["calls"] if t else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    writes = [s for s in sp if s.name == "writer.write_files"]
    compactions = [i for i, s in enumerate(sp) if s.name == "dml.compact"
                   and any(w.parent == i for w in writes)]
    compact_bytes = [sum(w.counts.get("bytes", 0) for w in writes if w.parent == i)
                     for i in compactions]
    compact_s = [sp[i].end - sp[i].start for i in compactions]
    rewrites = [s.counts.get("hit", 0) for s in sp if s.name == "mv.rewrite"]
    jobs = rec.job_counts()
    commits = tot.get("meta.commit", {}).get("calls", 0)
    return {
        "session.start_s": (session_s, "s"),
        "meta.snapshot_s": (self_per_call("meta.snapshot"), "s"),
        "meta.commit_s": (self_per_call("meta.commit"), "s"),
        "meta.manifest_bytes_per_commit": (
            rec.manifest_bytes / commits if commits else 0.0, "bytes"),
        "writer.write_files_s": (self_per_call("writer.write_files"), "s"),
        "writer.files_written": (mean([w.counts.get("files", 0) for w in writes]), "count"),
        "writer.bytes_written": (mean([w.counts.get("bytes", 0) for w in writes]), "bytes"),
        "dml.upsert_self_s": (self_per_call("dml.upsert"), "s"),
        "dml.jobs_per_upsert": (mean(jobs.get("upsert", [])), "count"),
        "dml.compact_s": (mean(compact_s), "s"),
        "dml.compactions": (float(len(compactions)), "count"),
        "dml.compact_bytes_rewritten": (mean(compact_bytes), "bytes"),
        "reader.scan_plan_s": (self_per_call("reader.scan"), "s"),
        "reader.exec_s": (self_per_call("reader.exec"), "s"),
        "reader.files_per_lookup": (mean(rec.layer.get("reader.files_per_lookup", [])), "count"),
        "reader.files_per_scan": (mean(rec.layer.get("reader.files_per_scan", [])), "count"),
        "reader.delta_files_max": (max(rec.layer.get("reader.delta_files_max", [0])), "count"),
        "reader.jobs_per_lookup": (mean(jobs.get("lookup", [])), "count"),
        "mv.refresh_s": (self_per_call("mv.refresh"), "s"),
        "mv.jobs_per_refresh": (mean(jobs.get("mv_refresh", [])), "count"),
        "mv.incremental_ratio": (mean(rec.layer.get("mv.incremental", [])), "ratio"),
        "mv.rewrite_s": (self_per_call("mv.rewrite"), "s"),
        "mv.rewrite_hit_ratio": (mean(rewrites), "ratio"),
        "sql.route_self_s": (self_per_call("sql.route"), "s"),
        "trace.spans": (float(len(sp)), "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cpus, mem_g = machine()
    pin_environment(cpus, mem_g)
    import starlake_spark  # fails here, before any JVM, outside a checkout
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    t0 = time.perf_counter()
    spark = starlake_spark.get_spark("lakebench")
    session_s = time.perf_counter() - t0
    try:
        w = workloads.WORKLOADS[args.workload](spark, WORK, args.seed)
        try:
            result = run(w, spark, args, session_s)
        finally:
            w.close()
    finally:
        stop_spark(spark)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run(w, spark, args, session_s: float) -> dict:
    import spans
    import workloads

    w.prepare_inputs()
    builds, warm_s = w.timed_setup()
    setup_s = session_s + statistics.median(builds) + warm_s
    tracer = spans.Tracer() if args.trace else None
    undo = spans.install(tracer) if tracer else []
    rec = workloads.Recorder(spark, tracer)
    meta0 = w.manifest_bytes()
    try:
        w.run(rec, args.seconds)
    finally:
        spans.uninstall(undo)
    rec.manifest_bytes = w.manifest_bytes() - meta0
    w.final_check(rec)
    rejected = rec.verify()
    e2e = end_to_end(w, rec, setup_s)
    sc = spark.sparkContext
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {"master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_memory": spark.conf.get("spark.driver.memory")},
        "session_start_s": session_s, "builds_s": builds, "warm_up_s": warm_s,
        "cycles": len(rec.cycles), "kinds": per_kind(rec),
        "failed_frac": rec.failed / rec.attempted,
        "rejected": rejected, **w.detail,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    metrics = per_layer(tracer, rec, session_s) if tracer else e2e
    print(json.dumps({"detail": detail}), flush=True)
    return {"correct": rec.failed == 0, "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
