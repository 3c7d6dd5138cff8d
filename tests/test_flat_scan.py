"""Flat-scan fast path (optimization round 10): when every commit
group of a snapshot is schema-homogeneous, `_merge_scan`/`_plain_scan`
serve the whole history through ONE parquet relation (version
attributed from the file's directory) instead of a union of per-commit
reads. These tests pin (a) bit-identical results vs the union path
(``_flat_read_plan`` patched to None), including tombstone deltas, in-batch
churn and resurrect-after-delete, (b) the single-relation plan shape,
and (c) that evolution shapes the gate cannot serve fall back to the
union path and stay correct."""

import pytest
from pyspark.sql import functions as F

from starlake_spark.operators import reader as R
from starlake_spark.table import StarTable, create_table


def _mk_df(spark, n=600):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("grp"),
        (F.col("id") * 1.5).alias("bal"),
        F.concat(F.lit("name_"), F.col("id")).alias("nm"))


NO_COMPACT = {"compaction.auto": "false", "compaction.maxDeltas": "0"}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _union_rows(monkeypatch, read):
    """``read()``'s rows with the flat fast path refused, i.e. through
    the per-group union reference path."""
    with monkeypatch.context() as mp:
        mp.setattr(R, "_flat_read_plan", lambda *a, **k: None)
        return _rows(read())


@pytest.fixture()
def churned_table(spark, tmp_table_dir):
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    for i in range(3):
        t.upsert(df.filter(F.col("k") % (i + 2) == 0)
                   .withColumn("bal", F.col("bal") + F.lit(10.0 * (i + 1))))
    t.delete("k % 13 = 0", use_delta=True)
    t.upsert(df.filter(F.col("k") % 26 == 0)
               .withColumn("nm", F.lit("resurrected")))
    return t


def test_merge_scan_flat_equals_union(spark, churned_table, monkeypatch):
    ref = _union_rows(monkeypatch, churned_table.to_df)
    fast_df = churned_table.to_df()
    assert _rows(fast_df) == ref
    # ONE parquet relation for the whole 6-commit history
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1


def test_plain_scan_flat_equals_union(spark, tmp_table_dir, monkeypatch):
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir, configuration=NO_COMPACT)
    t.write(df.withColumn("k", F.col("k") + 10_000))
    t.write(df.withColumn("k", F.col("k") + 20_000))
    ref = _union_rows(monkeypatch, t.to_df)
    fast_df = t.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1


def test_flat_serves_add_column_evolution(spark, tmp_table_dir,
                                          monkeypatch):
    """ADD COLUMN mid-history (round 11): heterogeneous exist_cols are
    now served by the single relation — absent columns null-backfill
    from the explicit schema and their merge ORDERING nulls out on the
    absent commits (the union path's per-branch literal as a CASE), so
    'absent = keep existing' survives."""
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter(F.col("k") % 2 == 0)
               .withColumn("bal", F.col("bal") + 5.0))
    t.add_columns([("extra", "int")])
    t.upsert(df.filter(F.col("k") % 3 == 0)
               .withColumn("bal", F.col("bal") + 7.0)
               .withColumn("extra", F.lit(42)))
    store = t.store
    info = store.table_info(refresh=True)
    files = store.snapshot().all_files()
    groups = R._group_files(files)
    assert R._flat_read_plan(store, info, groups) is not None
    ref = _union_rows(monkeypatch, t.to_df)
    fast_df = t.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1
    out = {r.k: r for r in t.to_df().collect()}
    assert out[6].extra == 42 and out[6].bal == pytest.approx(6 * 1.5 + 7)
    assert out[4].extra is None and out[4].bal == pytest.approx(4 * 1.5 + 5)


def test_flat_gate_refuses_rename(spark, tmp_table_dir):
    """A renamed column leaves old commits' exist_cols under the OLD
    name — outside the declared set, so the gate must keep the
    alias-aware union path (and stay correct)."""
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter(F.col("k") % 2 == 0)
               .withColumn("bal", F.col("bal") + 5.0))
    t.rename_column("nm", "label")
    info = t.store.table_info(refresh=True)
    groups = R._group_files(t.store.snapshot().all_files())
    assert R._flat_read_plan(t.store, info, groups) is None
    out = {r.k: r for r in t.to_df().collect()}
    assert out[7].label == "name_7"


def test_flat_gate_refuses_merge_on_in_batch_ties(spark, churned_table,
                                                  monkeypatch):
    """The flat path and union path must collapse in-batch duplicate
    keys identically (both order by commit version only — ties within
    a commit are pre-collapsed by upsert before writing)."""
    t = churned_table
    # merge operators ride the same sort_array(collect_list) shape:
    from starlake_spark import merge_ops as mo
    df_ops = t.to_df(merge_operators={"bal": mo.SumMergeOp()})
    ref = _union_rows(monkeypatch, lambda: t.to_df(
        merge_operators={"bal": mo.SumMergeOp()}))
    assert _rows(df_ops) == ref


def _mk_range_df(spark, n=600):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("r"), (F.col("id") % 3)).alias("region"),
        (F.col("id") * 1.5).alias("bal"),
        F.concat(F.lit("name_"), F.col("id")).alias("nm"))


@pytest.fixture()
def churned_range_table(spark, tmp_table_dir):
    """Range×hash table with a delta history: the round-11 extension of
    the flat scan (hive dirs under per-commit dirs, values rebuilt from
    the file path), tombstone deltas included. (NULL range values are
    impossible — the writer's NOT NULL partition invariant.)"""
    df = _mk_range_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    for i in range(3):
        t.upsert(df.filter(F.col("k") % (i + 2) == 0)
                   .withColumn("bal", F.col("bal") + F.lit(10.0 * (i + 1))))
    t.delete("k % 13 = 0", use_delta=True)
    t.upsert(df.filter(F.col("k") % 26 == 0)
               .withColumn("nm", F.lit("resurrected")))
    return t


def test_range_merge_scan_flat_equals_union(spark, churned_range_table,
                                            monkeypatch):
    ref = _union_rows(monkeypatch, churned_range_table.to_df)
    fast_df = churned_range_table.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1  # one relation, whole history


def test_range_flat_version_pinned_reads(spark, churned_range_table,
                                         monkeypatch):
    t = churned_range_table
    for v in range(1, t.store.latest_version() + 1):
        ref = _union_rows(monkeypatch, lambda: t.to_df(version=v))
        assert _rows(t.to_df(version=v)) == ref, f"version {v}"


def test_range_flat_uri_escaped_values(spark, tmp_table_dir,
                                       monkeypatch):
    """Partition values the file-path URI encoding alters (space, %,
    +) must decode back byte-exactly through the flat reconstruction —
    the TPC-H priority strings ('4-NOT SPECIFIED') are the everyday
    case."""
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit("plain"))
         .when(F.col("id") % 3 == 1, F.lit("has space"))
         .otherwise(F.lit("odd%2B+val")).alias("region"),
        (F.col("id") * 1.5).alias("bal"))
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter("k % 5 = 0").withColumn("bal", F.lit(0.0)))
    groups = R._group_files(t.store.snapshot().all_files())
    assert R._flat_read_plan(t.store, t.store.table_info(),
                              groups) is not None
    ref = _union_rows(monkeypatch, t.to_df)
    assert _rows(t.to_df()) == ref


def test_range_flat_gate_refuses_comma_values(spark, tmp_table_dir,
                                              monkeypatch):
    """A ',' in a partition value is the manifest range_value segment
    separator — unrepresentable, so the gate must keep the union path
    (and stay correct)."""
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit("a,b"))
         .otherwise(F.lit("plain")).alias("region"),
        (F.col("id") * 1.5).alias("bal"))
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter("k % 5 = 0").withColumn("bal", F.lit(0.0)))
    groups = R._group_files(t.store.snapshot().all_files())
    assert R._flat_read_plan(t.store, t.store.table_info(),
                              groups) is None
    ref = _union_rows(monkeypatch, t.to_df)
    assert _rows(t.to_df()) == ref
