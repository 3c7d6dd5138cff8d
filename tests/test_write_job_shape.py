"""Round-10 optimization: write-job shape pins.

A join/agg-free commit (the CDC-trickle / plain-append shape) must run
as ONE Spark job — AQE's query-stage split would add a second
scheduling round-trip + shuffle materialization per commit for a plan
it cannot improve (it never re-plans an explicit fixed-N repartition).
Plans that AQE *can* improve (joins, aggregates feeding a write, e.g.
CoW rewrites over a MoR collapse) keep it, unless the table is bucketed:
a bucketed write always runs without AQE so that no exchange feeding
the bucket files is coalesced.
"""
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from starlake_spark.operators import writer as W
from starlake_spark.table import create_table


def _job_ids(spark) -> set:
    # the status tracker keeps only the newest spark.ui.retainedJobs jobs
    # and evicts old ones in batches, so the size of its list can drop
    # while jobs run: count the ids that appeared instead
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


@pytest.fixture()
def seed(spark, sf_dir):
    df = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
          .select("o_orderkey", "o_custkey", "o_totalprice"))
    return df


def test_simple_upsert_commit_is_one_job(spark, seed, tmp_table_dir):
    t = create_table(spark, seed, tmp_table_dir,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4,
                     configuration={"compaction.auto": "false"})
    delta = seed.filter("o_orderkey % 10 = 0") \
                .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    before = _job_ids(spark)
    t.upsert(delta)
    assert len(_job_ids(spark) - before) == 1, \
        "join/agg-free upsert commit must run as a single Spark job"
    # and AQE must be back on for the session afterwards
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_aqe_probe_classifies_plans(spark, seed):
    assert W._aqe_pointless(seed.filter("o_orderkey > 5").select("o_orderkey"))
    agg = seed.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    assert not W._aqe_pointless(agg)
    joined = seed.join(agg, "o_custkey")
    assert not W._aqe_pointless(joined)


def test_aqe_restored_when_write_fails(spark, seed, tmp_table_dir):
    t = create_table(spark, seed, tmp_table_dir,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    bad = seed.withColumn("o_orderkey", F.lit(None).cast("long"))
    with pytest.raises(Exception):
        t.upsert(bad)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_concurrent_no_aqe_writes_never_see_aqe(spark):
    """Overlapping no-AQE saves in one session: none may run with AQE
    turned back on by another's exit (a bucketed write would then let
    AQE coalesce its buckets), and the last one out restores it."""
    key = "spark.sql.adaptive.enabled"
    seen = []

    class _Writer:
        def save(self, _path):
            for _ in range(10):
                seen.append(spark.conf.get(key))
                time.sleep(0.001)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=W._save_no_aqe,
                               args=(spark, _Writer(), ""))
              for _ in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(old)
    assert len(seen) == 160 and set(seen) == {"false"}
    assert spark.conf.get(key) == "true"
