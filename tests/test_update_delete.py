"""UPDATE / DELETE rewrites. Mirrors UpdateSuiteBase.scala /
DeleteSuiteBase.scala case structure (SURVEY §2.6)."""

import pytest
from pyspark.sql import functions as F

from starlake_spark import create_table


def _mk_cow(spark, path):
    """FIXTURES F4 no_hash — copy-on-write file-rewrite path."""
    df = spark.createDataFrame(
        [(i, f"v{i}", "d1" if i < 5 else "d2") for i in range(10)],
        "key int, value string, date string",
    )
    return create_table(spark, df, path, range_partitions=["date"])


def _mk_hash(spark, path):
    df = spark.createDataFrame(
        [(1, "a", "r1"), (2, "b", "r1"), (3, "c", "r2")],
        "id int, name string, range string",
    )
    return create_table(spark, df, path, range_partitions=["range"],
                        hash_partitions=["id"], hash_bucket_num=2)


def test_update_cow(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    t.update("key >= 8", {"value": F.lit("upd")})
    rows = dict((r.key, r.value) for r in t.to_df().collect())
    assert rows[8] == "upd" and rows[9] == "upd" and rows[0] == "v0"


def test_update_only_rewrites_touched_files(spark, tmp_table_dir):
    """UpdateCommand.scala:96-103 — untouched files keep their identity."""
    t = _mk_cow(spark, tmp_table_dir)
    before = {f.path for f in t.store.snapshot().all_files()}
    t.update("key = 9", {"value": F.lit("upd")})  # only d2's file touched
    after = {f.path for f in t.store.snapshot().all_files()}
    kept = before & after
    assert kept, "files without matches must not be rewritten"


def test_update_expression_referencing_columns(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    t.update("key < 2", {"value": F.concat(F.col("value"), F.lit("!"))})
    rows = dict((r.key, r.value) for r in t.to_df().collect())
    assert rows[0] == "v0!" and rows[1] == "v1!" and rows[2] == "v2"


def test_update_no_match_is_noop(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    v_before = t.store.latest_version()
    t.update("key = 12345", {"value": F.lit("x")})
    assert t.store.latest_version() == v_before


def test_update_partition_col_rejected(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    with pytest.raises(ValueError):
        t.update("key = 1", {"date": F.lit("d9")})


def test_update_hash_table_collapses_deltas(spark, tmp_table_dir):
    t = _mk_hash(spark, tmp_table_dir)
    t.upsert(spark.createDataFrame([(1, "A", "r1")], "id int, name string, range string"))
    t.update("id = 1", {"name": F.lit("U")})
    rows = dict((r.id, r.name) for r in t.to_df().collect())
    assert rows == {1: "U", 2: "b", 3: "c"}


def test_delete_cow(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    t.delete("key % 2 = 0")
    assert sorted(r.key for r in t.to_df().collect()) == [1, 3, 5, 7, 9]


def test_delete_null_condition_semantics(spark, tmp_table_dir):
    """DeleteCommand keeps NOT coalesce(cond, false) rows — a NULL
    condition result means 'keep' (DeleteCommand.scala:41-147)."""
    df = spark.createDataFrame([(1, None), (2, 5)], "key int, x int")
    t = create_table(spark, df, tmp_table_dir)
    t.delete("x > 1")  # NULL > 1 is NULL -> keep key=1
    assert sorted(r.key for r in t.to_df().collect()) == [1]


def test_delete_all(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    t.delete()
    assert t.to_df().count() == 0


def test_delete_hash_table(spark, tmp_table_dir):
    t = _mk_hash(spark, tmp_table_dir)
    t.upsert(spark.createDataFrame([(4, "d", "r2")], "id int, name string, range string"))
    t.delete("range = 'r2' and id = 3")
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 4]


def test_cleanup_removes_orphans(spark, tmp_table_dir):
    t = _mk_cow(spark, tmp_table_dir)
    t.delete("key < 5")  # expires the d1 file
    removed = t.cleanup(retention_s=0.0)
    assert removed, "expected expired physical files to be vacuumed"
    # table still reads fine afterwards
    assert sorted(r.key for r in t.to_df().collect()) == [5, 6, 7, 8, 9]


def test_delta_delete_tombstones(spark, tmp_table_dir):
    """MoR tombstone DELETE: O(matched keys) delta write, scan filters
    the keys, later upsert resurrects with insert-after-delete nulls,
    compaction materializes without changing results."""
    from starlake_spark.table import create_table

    df = spark.createDataFrame([(i, f"n{i}", i * 10) for i in range(1, 6)],
                               "id int, name string, value int")
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["id"], hash_bucket_num=2)
    t.set_properties({"compaction.auto": "false"})
    t.delete("value >= 30", use_delta=True)
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2]
    # resurrect one key with a partial-column upsert
    t.upsert(spark.createDataFrame([(3, 7)], "id int, value int"))
    rows = {r["id"]: (r["name"], r["value"]) for r in t.to_df().collect()}
    assert rows[3] == (None, 7)  # pre-delete 'n3' must NOT leak back
    t.compaction(force=True)
    rows2 = {r["id"]: (r["name"], r["value"]) for r in t.to_df().collect()}
    assert rows2 == rows


def test_delta_delete_guards(spark, tmp_table_dir):
    import pytest as _pt

    from starlake_spark.table import create_table

    df = spark.createDataFrame([(1, "a", "r")], "id int, v string, rng string")
    t = create_table(spark, df, tmp_table_dir, range_partitions=["rng"])
    with _pt.raises(ValueError, match="hash partition"):
        t.delete("id = 1", use_delta=True)

    d2 = spark.createDataFrame([(1, 5)], "id int, v int")
    t2 = create_table(spark, d2, tmp_table_dir + "_2",
                      hash_partitions=["id"], hash_bucket_num=2)
    t2.set_properties({"compaction.merge_operators": '{"v": "sum"}'})
    with _pt.raises(ValueError, match="merge operators"):
        t2.delete("id = 1", use_delta=True)


def test_delta_delete_surfaces_in_change_feed(spark, tmp_table_dir):
    """Tombstone deletes must not vanish from the CDF: default raises
    (no silent retention downstream), ignore_deletes opts into the
    append-only view, with_change_type emits the deleted keys."""
    import pytest as _pt

    from starlake_spark.sources.datasource import table_changes
    from starlake_spark.table import create_table

    df = spark.createDataFrame([(i, i * 10) for i in range(1, 4)], "id int, v int")
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["id"], hash_bucket_num=2)
    v0 = t.versions()[-1]
    t.delete("id = 2", use_delta=True)
    with _pt.raises(ValueError, match="delete_delta"):
        table_changes(spark, tmp_table_dir, v0).count()
    assert table_changes(spark, tmp_table_dir, v0, ignore_deletes=True).count() == 0
    ch = table_changes(spark, tmp_table_dir, v0, with_change_type=True).collect()
    assert len(ch) == 1
    assert (ch[0]["id"], ch[0]["v"], ch[0]["_change_type"]) == (2, None, "delete")


def test_delta_update_matches_rewrite_semantics(spark, tmp_table_dir):
    """Delta UPDATE: only matched rows are re-committed as a delta;
    results equal the rewrite path, compaction keeps them, and the
    update is invisible to untouched keys' file lineage."""
    from starlake_spark.table import create_table

    df = spark.createDataFrame([(i, f"n{i}", i * 10) for i in range(1, 6)],
                               "id int, name string, value int")
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["id"], hash_bucket_num=2)
    t.set_properties({"compaction.auto": "false"})
    t.update("value >= 30", {"name": F.concat(F.col("name"), F.lit("!")),
                             "value": F.col("value") + 1}, use_delta=True)
    rows = {r["id"]: (r["name"], r["value"]) for r in t.to_df().collect()}
    assert rows == {1: ("n1", 10), 2: ("n2", 20), 3: ("n3!", 31),
                    4: ("n4!", 41), 5: ("n5!", 51)}
    # delta files hold only the 3 matched keys
    newest_wv = max(f.write_version for f in t.store.snapshot().all_files())
    delta_rows = sum(
        spark.read.parquet(tmp_table_dir + "/" + f.path).count()
        for f in t.store.snapshot().all_files() if f.write_version == newest_wv)
    assert delta_rows == 3
    t.compaction(force=True)
    assert {r["id"]: (r["name"], r["value"]) for r in t.to_df().collect()} == rows


def test_delta_update_guards(spark, tmp_table_dir):
    import pytest as _pt

    from starlake_spark.table import create_table

    df = spark.createDataFrame([(1, "a", "r")], "id int, v string, rng string")
    t = create_table(spark, df, tmp_table_dir, range_partitions=["rng"])
    with _pt.raises(ValueError, match="hash partition"):
        t.update("id = 1", {"v": F.lit("x")}, use_delta=True)


def test_dml_delta_enabled_property_routes_sql(spark, tmp_table_dir):
    """dml.delta.enabled=true makes plain UPDATE/DELETE (API and SQL
    text) take the delta paths on eligible tables: version count grows
    by delta commits, newest files hold only matched keys."""
    from starlake_spark.table import create_table

    df = spark.createDataFrame([(i, i * 10) for i in range(1, 6)], "id int, v int")
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["id"], hash_bucket_num=2,
                     configuration={"dml.delta.enabled": "true",
                                    "compaction.auto": "false"})
    t.update("id = 2", {"v": F.lit(99)})
    newest = max(f.write_version for f in t.store.snapshot().all_files())
    n_rows = sum(spark.read.parquet(tmp_table_dir + "/" + f.path).count()
                 for f in t.store.snapshot().all_files()
                 if f.write_version == newest)
    assert n_rows == 1  # delta holds only the matched key
    t.delete("id = 5")
    assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3, 4]
    assert {r["id"]: r["v"] for r in t.to_df().collect()}[2] == 99


def test_dynamic_partition_overwrite(spark, sf_dir, tmp_path):
    """partition_overwrite='dynamic' (Spark/Delta dynamic mode):
    overwrite replaces ONLY the partitions present in the incoming
    data; other partitions keep their rows; guards fire for
    unpartitioned tables and replaceWhere mixing."""
    import pytest as _pt

    from starlake_spark.table import create_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = create_table(spark, orders, str(tmp_path / "t"),
                     range_partitions=["o_orderstatus"])
    statuses = sorted(r[0] for r in
                      orders.select("o_orderstatus").distinct().collect())
    tgt, keep = statuses[0], statuses[1:]
    repl = (orders.filter(F.col("o_orderstatus") == tgt).limit(3)
            .withColumn("o_totalprice", F.lit(0.0)))
    t.write(repl, mode="overwrite", partition_overwrite="dynamic")
    df = t.to_df()
    assert df.filter(F.col("o_orderstatus") == tgt).count() == 3
    for s in keep:
        assert (df.filter(F.col("o_orderstatus") == s).count()
                == orders.filter(F.col("o_orderstatus") == s).count())
    # unpartitioned: rejected
    t2 = create_table(spark, orders.limit(5), str(tmp_path / "u"))
    with _pt.raises(ValueError, match="range partition"):
        t2.write(orders.limit(2), mode="overwrite",
                 partition_overwrite="dynamic")
    with _pt.raises(ValueError, match="mutually exclusive"):
        t.write(repl, mode="overwrite", partition_overwrite="dynamic",
                replace_where="o_orderstatus = 'O'")


def test_update_nested_struct_field(spark, tmp_path):
    """Reference UpdateSuiteBase 'nested data support': SET meta.a = e
    rewrites the struct field (withField); unknown columns and non-struct
    roots raise instead of silently dropping the update."""
    import pytest

    from starlake_spark.table import create_table

    df = spark.createDataFrame(
        [(1, {"a": 1, "b": "x"}), (2, {"a": 2, "b": "y"})],
        "k long, meta struct<a:int,b:string>")
    t = create_table(spark, df, str(tmp_path / "t"),
                     hash_partitions=["k"], hash_bucket_num=2)
    t.update("k = 1", {"meta.a": "42"})
    got = {r["k"]: (r["meta"]["a"], r["meta"]["b"])
           for r in t.to_df().collect()}
    assert got == {1: (42, "x"), 2: (2, "y")}
    # two nested sets on one struct compose
    t.update("k = 2", {"meta.a": "7", "meta.b": "'z'"})
    got = {r["k"]: (r["meta"]["a"], r["meta"]["b"])
           for r in t.to_df().collect()}
    assert got[2] == (7, "z")
    with pytest.raises(ValueError, match="not a struct"):
        t.update("k = 1", {"k.a": "1"})
    with pytest.raises(ValueError, match="unknown column"):
        t.update("k = 1", {"nope": "1"})


def test_tombstone_deletes_pass_not_null_and_check(spark, tmp_table_dir):
    """Tombstone rows carry explicit nulls in every data column; the
    write-time invariant guard exempts them from declared NOT NULL and
    CHECK constraints, so key deletes work on a constrained table."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.IntegerType(), False),
                           T.StructField("v", T.IntegerType(), False)])
    df = spark.createDataFrame([(i, i + 1) for i in range(6)], schema)
    t = create_table(spark, df, tmp_table_dir, hash_partitions=["id"],
                     hash_bucket_num=2,
                     configuration={"check.vpos": "v > 0"})
    assert '"nullable":true' not in t.store.table_info().schema_json
    t.delete("id = 1", use_delta=True)
    t.delete_keys(spark.createDataFrame([(2,), (3,)], "id int"))
    assert t.store.snapshot().commit_type == "delete_delta"
    assert sorted(r.id for r in t.to_df().collect()) == [0, 4, 5]
    with pytest.raises(Exception, match="CHECK constraint"):
        t.upsert(spark.createDataFrame([(7, -1)], "id int, v int"))
