"""Bucketed layout invariant: the file a commit records as bucket N
holds exactly the rows with ``pmod(hash(hash_cols), bucket_num) = N``.
Point lookups prune to one bucket, so a file holding keys of several
buckets under one id hides them — a deleted key comes back.

The delete input is a MoR scan collapsed by key, i.e. already
hash-partitioned on the key. With ``spark.sql.shuffle.partitions ==
bucket_num`` the planner drops the writer's bucket repartition as
redundant, which is the shape that must still land each row in its
own bucket's file."""

import os

import pytest
from pyspark.sql import functions as F

from starlake_spark.table import create_table

BUCKETS = 4


@pytest.fixture()
def shuffle_eq_buckets(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(BUCKETS))
    yield
    spark.conf.set(key, prev)


def _file_buckets(spark, t) -> dict:
    """Bucket id recorded per file → bucket ids its keys hash to."""
    out = {}
    for f in t.store.snapshot().all_files():
        p = f.path if os.path.isabs(f.path) else \
            os.path.join(t.store.table_path, f.path)
        got = (spark.read.parquet(p)
               .select(F.pmod(F.hash("k"), F.lit(BUCKETS)).alias("b"))
               .distinct().collect())
        out[p] = (f.bucket_id, {r.b for r in got})
    return out


def test_tombstone_delete_files_hold_their_bucket(spark, tmp_table_dir,
                                                  shuffle_eq_buckets):
    df = spark.range(0, 400).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=BUCKETS,
                     configuration={"compaction.auto": "false"})
    t.upsert(df.filter("k % 3 = 0").withColumn("v", F.lit(-1).cast("long")))
    t.delete("k % 7 = 0", use_delta=True)
    for p, (bid, hashed) in _file_buckets(spark, t).items():
        assert hashed <= {bid}, f"{p}: bucket {bid} holds keys of {hashed}"
    for k in range(0, 84, 7):
        assert t.to_df(where=f"k = {k}").count() == 0, f"key {k} resurrected"
    assert t.to_df().count() == 400 - len(range(0, 400, 7))


def test_compaction_files_hold_their_bucket(spark, tmp_table_dir,
                                            shuffle_eq_buckets):
    df = spark.range(0, 400).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=BUCKETS,
                     configuration={"compaction.auto": "false"})
    t.upsert(df.filter("k % 3 = 0").withColumn("v", F.lit(-1).cast("long")))
    t.delete("k % 5 = 0", use_delta=True)
    t.compaction()
    for p, (bid, hashed) in _file_buckets(spark, t).items():
        assert hashed <= {bid}, f"{p}: bucket {bid} holds keys of {hashed}"
    for k in (3, 5, 6, 10, 399):
        want = 0 if k % 5 == 0 else 1
        assert t.to_df(where=f"k = {k}").count() == want, f"key {k}"
