"""Round-8 verdict task #3: incremental materialized-view refresh.

update_material_view (plans/mv.py) now maintains single-table
sum/count/avg GROUP BY views through the signed-partial algebra
(_incremental_refresh) instead of the reference's full re-run. These
tests pin the three claims:

1. EQUALITY — across a DML storm (appends, upserts, deletes, a group
   vanishing), the incrementally-maintained view is bit-identical to a
   full re-run of the SQL.
2. O(CHANGES) — the refresh provably never reads source history: with
   an already-consumed source file physically removed, the incremental
   refresh still succeeds (a full re-run cannot).
3. HYGIENE — hidden _mv_* partial columns never reach users, and
   ineligible shapes (DISTINCT aggregates, HAVING, min/max inside a
   join) still refresh full, flagged incremental=False. Round 10:
   single-table min/max over MUTABLE sources became eligible via the
   affected-group rescan (threatened extrema recompute from a
   version-pinned source read; everything else folds).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from starlake_spark.plans import mv


@pytest.fixture()
def sess(spark, tmp_path):
    from starlake_spark.sql import StarSession

    return StarSession(spark, warehouse=str(tmp_path / "wh"))


def _orders_frame(spark, sf_dir, lo, hi):
    """A slice of the driver's orders parquet: decimal money, string
    group key, int priority — the shapes the exactness contract covers."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (o.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
                    (F.col("o_custkey") % 10).cast("int").alias("prio")))


MV_SQL = ("SELECT st, sum(price) AS total, count(*) AS n, "
          "avg(prio) AS mean_prio, count(price) AS n_price "
          "FROM src GROUP BY st")


def _full_rerun(sess):
    return {tuple(r) for r in
            sess.spark.sql(MV_SQL.replace("FROM src", "FROM src"))
            .collect()}


def _view_rows(sess, name="mv_t"):
    return {tuple(r) for r in sess.sql(f"SELECT * FROM {name}").collect()}


def _forbid_full_refresh(mp):
    """Make the full-refresh fallback raise, so a failing incremental
    path surfaces instead of being repaired by a silent rebuild."""
    def _full(*a, **k):
        raise AssertionError("refresh fell back to a full rebuild")
    mp.setattr(mv, "_mv_init_frame", _full)


def test_incremental_equals_full_append_only(sess, spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    reg = mv._load_registry(sess.warehouse)
    assert reg["mv_t"]["incremental"] is True

    for lo, hi in [(600, 1000), (1000, 1050), (1050, 1500)]:
        src.write(_orders_frame(spark, sf_dir, lo, hi), mode="append")
        assert mv.update_material_view(sess, "mv_t") is True
        t = sess.table("mv_t")
        # the refresh was the UPSERT path, not an overwrite re-run
        assert t.store.snapshot().commit_type == "delta"
        assert _view_rows(sess) == _full_rerun(sess)
    # steady state: no source change → no-op refresh
    assert mv.update_material_view(sess, "mv_t") is False


def test_incremental_equals_full_dml_storm(sess, spark, sf_dir, tmp_path):
    """Hash-partitioned source under a storm of upserts and deletes —
    including one group key vanishing entirely — stays bit-identical
    to the full re-run through the signed retraction algebra."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    base = _orders_frame(spark, sf_dir, 0, 800)
    src = create_table(spark, base, str(tmp_path / "src"),
                       hash_partitions=["k"], hash_bucket_num=4,
                       short_name="src", warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)

    # storm 1: price updates on one slice + fresh inserts
    src.upsert(_orders_frame(spark, sf_dir, 200, 400)
               .withColumn("price", F.col("price") * 2))
    src.upsert(_orders_frame(spark, sf_dir, 800, 1200))
    # storm 2: delete a slice, then move every remaining 'P' order to
    # group 'F' (a group-key update = retraction + insertion)
    dml.delete(spark, src.store, condition="k >= 1100", use_delta=True)
    src.upsert(src.to_df().filter(F.col("st") == "P")
               .withColumn("st", F.lit("F")))
    sess._sync_views()

    assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type in (
        "delta", "delete_delta", "mixed_delta")
    got, want = _view_rows(sess), _full_rerun(sess)
    assert got == want
    # 'P' groups vanished: the dead group's row must be GONE, not zeroed
    assert not any(r[0] == "P" for r in got)
    # registry survives: still incremental after the storm
    assert mv._load_registry(sess.warehouse)["mv_t"]["incremental"] is True


def test_refresh_reads_o_changes_not_history(sess, spark, sf_dir, tmp_path):
    """With an already-consumed source file physically removed, the
    incremental refresh still succeeds — it provably reads only the
    change window (a full re-run over the same table throws)."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 900),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       configuration={"compaction.auto": "false"})
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    before = _view_rows(sess)

    # hide one consumed base file
    files = src.store.snapshot().all_files()
    victim = os.path.join(src.store.table_path, files[0].path)
    hidden = victim + ".hidden"
    os.rename(victim, hidden)
    try:
        src.write(_orders_frame(spark, sf_dir, 900, 1400), mode="append")
        assert mv.update_material_view(sess, "mv_t") is True
        # read the backing table directly: sess.sql would re-sync the
        # src temp view, whose full-table file index stats the hidden
        # file — exactly what the refresh itself must not (and did not)
        after = {tuple(r) for r in
                 mv._strip_mv_hidden(sess.table("mv_t").to_df()).collect()}
        assert after != before  # the appended slice landed
    finally:
        os.rename(hidden, victim)
    # with the file restored, the incremental result equals the full
    # re-run over the intact table
    sess._sync_views()
    assert _view_rows(sess) == _full_rerun(sess)


def test_hidden_partials_invisible_and_rewrite_hits(sess, spark, sf_dir,
                                                    tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 900),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    cols = sess.sql("SELECT * FROM mv_t").columns
    assert cols == ["st", "total", "n", "mean_prio", "n_price"]
    # the backing table DOES carry the partials (that's the machinery)
    backing = sess.table("mv_t").to_df().columns
    assert any(c.startswith("_mv_") for c in backing)
    # query rewrite onto the incremental view still hits and agrees
    q = "SELECT st, sum(price) AS total FROM src GROUP BY st"
    hit = mv.try_rewrite(sess, q)
    assert hit is not None
    assert ({tuple(r) for r in hit.collect()}
            == {tuple(r) for r in spark.sql(q).collect()})


def test_minmax_incremental_on_append_only_source(sess, spark, sf_dir,
                                                  tmp_path):
    """min/max are monotone under pure appends: eligible on an
    append-only source, incremental, bit-exact vs full re-run."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    q = ("SELECT st, min(price) AS lo, max(price) AS hi, count(*) AS n "
         "FROM src GROUP BY st")
    mv.create_material_view(sess, "mv_mm", str(tmp_path / "mv_mm"), q)
    assert mv._load_registry(sess.warehouse)["mv_mm"]["incremental"] is True
    for lo, hi in [(600, 1000), (1000, 1500)]:
        src.write(_orders_frame(spark, sf_dir, lo, hi), mode="append")
        assert mv.update_material_view(sess, "mv_mm") is True
        assert sess.table("mv_mm").store.snapshot().commit_type == "delta"
        got = {tuple(r) for r in sess.sql("SELECT * FROM mv_mm").collect()}
        want = {tuple(r) for r in spark.sql(q).collect()}
        assert got == want


def _minmax_mv(sess, spark, sf_dir, tmp_path, buckets=4):
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=buckets)
    sess.register("src", src)
    q = ("SELECT st, min(price) AS lo, max(price) AS hi, "
         "sum(price) AS total, count(*) AS n FROM src GROUP BY st")
    mv.create_material_view(sess, "mv_mm", str(tmp_path / "mv_mm"), q)
    assert mv._load_registry(sess.warehouse)["mv_mm"]["incremental"] is True
    return src, q


def _assert_mm(sess, spark, q, name="mv_mm"):
    got = {tuple(r) for r in sess.sql(f"SELECT * FROM {name}").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want


def test_minmax_rescan_only_when_threatened(sess, spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The rescan is paid ONLY when a retracted value ties/beats the
    stored extremum: a mid-value retraction folds with zero source
    scans, an extremum retraction rescans exactly once and stays a
    delta (incremental) commit with an exact answer."""
    src, q = _minmax_mv(sess, spark, sf_dir, tmp_path)
    calls = []
    real = mv._rescan_frame
    monkeypatch.setattr(mv, "_rescan_frame",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    # retract mid-pack values: raise prices of NON-extremal rows by 1
    # cent (still above each group's min, below its max)
    stats = (src.to_df().groupBy("st")
             .agg(F.min("price").alias("mn"), F.max("price").alias("mx")))
    mid = (src.to_df().join(stats, "st")
           .filter((F.col("price") > F.col("mn") + 1000)
                   & (F.col("price") < F.col("mx") - 1000))
           .limit(40)
           .select("k", "st",
                   (F.col("price") + F.lit(0.01).cast("decimal(18,2)"))
                   .cast("decimal(18,2)").alias("price"), "prio"))
    src.upsert(mid)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    assert calls == []  # fold path: no rescan
    assert sess.table("mv_mm").store.snapshot().commit_type == "delta"
    _assert_mm(sess, spark, q)
    # now retract every group's current minimum
    mins = src.to_df().groupBy("st").agg(F.min("price").alias("mn"))
    hold = (src.to_df().join(mins, "st")
            .filter(F.col("price") == F.col("mn"))
            .select("k", "st",
                    (F.col("price") + 500000).cast("decimal(18,2)")
                    .alias("price"), "prio"))
    src.upsert(hold)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    assert calls == [1]  # rescan fired exactly once
    assert sess.table("mv_mm").store.snapshot().commit_type == "delta"
    _assert_mm(sess, spark, q)


def test_minmax_rescan_delete_and_duplicates(sess, spark, sf_dir, tmp_path):
    """Retracting ONE of several rows tied at the extremum must keep
    the extremum (multiplicity is invisible to the fold — only the
    rescan can know); deleting all extremum holders must surface the
    runner-up."""
    src, q = _minmax_mv(sess, spark, sf_dir, tmp_path)
    # plant an exact tie at a brand-new global max in one group
    st = src.to_df().select("st").first()[0]
    from decimal import Decimal as D

    plant = spark.createDataFrame(
        [(9_000_001, st, D("900000.00"), 1),
         (9_000_002, st, D("900000.00"), 1)],
        "k long, st string, price decimal(18,2), prio int")
    src.upsert(plant)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    _assert_mm(sess, spark, q)
    # delete ONE of the two tied max holders: max must NOT move
    src.delete_keys(spark.createDataFrame([(9_000_001,)], "k long"))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    _assert_mm(sess, spark, q)
    assert (sess.sql(f"SELECT hi FROM mv_mm WHERE st = '{st}'")
            .first()[0] == 900000.00)
    # delete the second: max falls back to the organic runner-up
    src.delete_keys(spark.createDataFrame([(9_000_002,)], "k long"))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    _assert_mm(sess, spark, q)
    assert (sess.sql(f"SELECT hi FROM mv_mm WHERE st = '{st}'")
            .first()[0] < 900000.00)


def test_minmax_rescan_inwindow_churn_new_group(sess, spark, sf_dir,
                                               tmp_path):
    """Rows that arrive AND leave inside one refresh window poison the
    postimage fold (it saw values that are already gone) — the absent
    stored row forces those groups through the rescan. A brand-new
    group gets k=5 then k=3 upserted and the 5-holder deleted before
    any refresh: the max must come out 3, not 5."""
    src, q = _minmax_mv(sess, spark, sf_dir, tmp_path)
    from decimal import Decimal as D

    rows = spark.createDataFrame(
        [(9_100_001, "Z1", D("500.00"), 1), (9_100_002, "Z1", D("300.00"), 1)],
        "k long, st string, price decimal(18,2), prio int")
    src.upsert(rows)
    src.delete_keys(spark.createDataFrame([(9_100_001,)], "k long"))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    assert sess.table("mv_mm").store.snapshot().commit_type == "delta"
    _assert_mm(sess, spark, q)
    assert (sess.sql("SELECT hi, n FROM mv_mm WHERE st = 'Z1'")
            .first() == (300.00, 1))
    # and a group emptied inside the window never materializes
    rows2 = spark.createDataFrame(
        [(9_100_003, "Z2", D("42.00"), 1)],
        "k long, st string, price decimal(18,2), prio int")
    src.upsert(rows2)
    src.delete_keys(spark.createDataFrame([(9_100_003,)], "k long"))
    sess._sync_views()
    mv.update_material_view(sess, "mv_mm")
    assert sess.sql("SELECT * FROM mv_mm WHERE st = 'Z2'").count() == 0
    _assert_mm(sess, spark, q)


def test_minmax_rescan_replay_exactly_once(sess, spark, sf_dir, tmp_path):
    """Crash replay across the rescan path: rewind the registry
    fingerprint after an extremum-retracting refresh (stamp stays
    ahead) — the replay must recognize the applied window and change
    nothing (the rescan pins the window-end version, so even a
    recomputation would be identical)."""
    src, q = _minmax_mv(sess, spark, sf_dir, tmp_path)
    mins = src.to_df().groupBy("st").agg(F.min("price").alias("mn"))
    hold = (src.to_df().join(mins, "st")
            .filter(F.col("price") == F.col("mn"))
            .select("k", "st",
                    (F.col("price") + 500000).cast("decimal(18,2)")
                    .alias("price"), "prio"))
    src.upsert(hold)
    sess._sync_views()
    before = mv._load_registry(sess.warehouse)["mv_mm"]["fingerprints"]
    assert mv.update_material_view(sess, "mv_mm") is True
    _assert_mm(sess, spark, q)
    state = _view_rows(sess, "mv_mm")
    # crash simulation: registry write lost
    reg = mv._load_registry(sess.warehouse)
    reg["mv_mm"]["fingerprints"] = before
    mv._save_registry(reg, sess.warehouse)
    assert mv.update_material_view(sess, "mv_mm") is False  # noop replay
    assert _view_rows(sess, "mv_mm") == state
    _assert_mm(sess, spark, q)


def test_minmax_global_aggregate_mutable(sess, spark, sf_dir, tmp_path):
    """GROUP BY () min/max over a mutable source: an extremum
    retraction rewrites the single row from the pinned rescan."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 400),
                       str(tmp_path / "srcg"), short_name="srcg",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("srcg", src)
    q = ("SELECT min(price) AS lo, max(price) AS hi, count(*) AS n "
         "FROM srcg")
    mv.create_material_view(sess, "mv_gm", str(tmp_path / "mv_gm"), q)
    assert mv._load_registry(sess.warehouse)["mv_gm"]["incremental"] is True
    mx = src.to_df().agg(F.max("price")).first()[0]
    killer = src.to_df().filter(F.col("price") == mx).select("k")
    src.delete_keys(killer)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_gm") is True
    got = sess.sql("SELECT * FROM mv_gm").first()
    want = spark.sql(q).first()
    assert tuple(got) == tuple(want)


def test_minmax_on_hash_source_incremental_via_rescan(sess, spark, sf_dir,
                                                      tmp_path):
    """A hash (upsertable) source can RETRACT the extremum. Round 10:
    such views are now INCREMENTAL — groups whose retracted values
    threaten the stored extremum rescan from a version-pinned source
    read (everything else folds); the answer stays exact even when
    every group minimum is retracted at once."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    q = "SELECT st, min(price) AS lo FROM src GROUP BY st"
    mv.create_material_view(sess, "mv_min", str(tmp_path / "mv_min"), q)
    assert mv._load_registry(sess.warehouse)["mv_min"]["incremental"] is True
    # hidden partials live in the backing table but never reach users
    assert not any(c.startswith("_mv_")
                   for c in sess.sql("SELECT * FROM mv_min").columns)
    # retract the global minimum per group via an upsert; refresh stays
    # a delta commit (incremental), answer exact
    src.upsert(_orders_frame(spark, sf_dir, 0, 600)
               .withColumn("price", F.col("price") + 100000))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_min") is True
    assert sess.table("mv_min").store.snapshot().commit_type == "delta"
    assert (_view_rows(sess, "mv_min")
            == {tuple(r) for r in spark.sql(q).collect()})


def test_global_aggregate_incremental(sess, spark, sf_dir, tmp_path):
    """GROUP BY () — the single-row global rollup — maintains through
    a 1-row overwrite per refresh, exact across a hash-source storm."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 800),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    q = ("SELECT sum(price) AS total, count(*) AS n, avg(prio) AS mp "
         "FROM src")
    mv.create_material_view(sess, "mv_g", str(tmp_path / "mv_g"), q)
    assert mv._load_registry(sess.warehouse)["mv_g"]["incremental"] is True

    src.upsert(_orders_frame(spark, sf_dir, 200, 400)
               .withColumn("price", F.col("price") * 3))
    src.upsert(_orders_frame(spark, sf_dir, 800, 1200))
    dml.delete(spark, src.store, condition="k >= 1100", use_delta=True)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_g") is True
    got = {tuple(r) for r in sess.sql("SELECT * FROM mv_g").collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want
    assert sess.table("mv_g").to_df().count() == 1


def test_ineligible_shapes_stay_full(sess, spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    # HAVING (a filter above the aggregate) has no partial algebra —
    # stays full (DISTINCT aggregates went incremental in round 10,
    # so they no longer serve as the ineligible example)
    q_d = ("SELECT st, count(*) AS sp FROM src GROUP BY st "
           "HAVING count(*) > 2")
    mv.create_material_view(sess, "mv_d", str(tmp_path / "mv_d"), q_d)
    assert mv._load_registry(sess.warehouse)["mv_d"]["incremental"] is False
    assert not any(c.startswith("_mv_")
                   for c in sess.table("mv_d").to_df().columns)
    src.write(_orders_frame(spark, sf_dir, 600, 800), mode="append")
    assert mv.update_material_view(sess, "mv_d") is True
    assert (_view_rows(sess, "mv_d")
            == {tuple(r) for r in spark.sql(q_d).collect()})


def test_refresh_replay_is_exactly_once(sess, spark, sf_dir, tmp_path):
    """Crash-replay contract: a refresh whose data commits landed but
    whose registry-fingerprint save was lost (simulated by rewinding
    the registry) must never double-apply partials. The txn-registry
    stamp is the AUTHORITATIVE cursor: the replay resumes from it,
    recognizes the window as already applied, heals the registry, and
    reports 'nothing to refresh'."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 800),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    reg = mv._load_registry(sess.warehouse)
    fps_before = dict(reg["mv_t"]["fingerprints"])

    # window with updates + inserts + a vanishing group
    src.upsert(_orders_frame(spark, sf_dir, 100, 300)
               .withColumn("price", F.col("price") * 2))
    dml.delete(spark, src.store, condition="k >= 700", use_delta=True)
    src.upsert(src.to_df().filter(F.col("st") == "P")
               .withColumn("st", F.lit("F")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    want = _view_rows(sess)
    assert want == _full_rerun(sess)

    # simulate the crash: rewind the registry fingerprint to the
    # pre-refresh cursor, as if the save never happened
    reg = mv._load_registry(sess.warehouse)
    reg["mv_t"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)

    # replay resumes from the txn stamp → already applied, no-op
    assert mv.update_material_view(sess, "mv_t") is False
    assert _view_rows(sess) == want  # NOT doubled, groups intact
    # the registry cursor was healed to the stamp
    assert mv._load_registry(sess.warehouse)["mv_t"]["fingerprints"] \
        != fps_before
    assert mv.update_material_view(sess, "mv_t") is False


def test_crash_then_new_commit_no_double_apply(sess, spark, sf_dir,
                                               tmp_path):
    """The sharper replay hazard: crash after the gated upsert (stamp
    advanced) but before the registry save, THEN a new source commit.
    Restarting the window at the stale fingerprint would re-merge the
    already-applied changes on top of the new window (the gate alone
    only stops an identical replay, since the new window's txn version
    exceeds the stamp). The stamp-as-cursor resume makes the next
    refresh apply ONLY the new commit."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    reg = mv._load_registry(sess.warehouse)
    fps_before = dict(reg["mv_t"]["fingerprints"])

    # window 1: doubles a slice's prices — exactly the shape whose
    # partials double visibly if re-applied
    src.upsert(_orders_frame(spark, sf_dir, 100, 300)
               .withColumn("price", F.col("price") * 2))
    assert mv.update_material_view(sess, "mv_t") is True

    # crash: registry save lost
    reg = mv._load_registry(sess.warehouse)
    reg["mv_t"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)

    # window 2: NEW commit after the crash
    src.upsert(_orders_frame(spark, sf_dir, 600, 700))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    t = sess.table("mv_t")
    assert t.store.snapshot().commit_type == "delta"  # still incremental
    assert _view_rows(sess) == _full_rerun(sess)  # window 1 not doubled


def test_rollup_refresh_replay_is_exactly_once(spark, sf_dir, tmp_path):
    from starlake_spark import create_table
    from starlake_spark.plans import rollup as ru

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.col("event_id").cast("long").alias("event_id"),
                  F.col("ts").cast("timestamp").alias("ts"),
                  F.col("user_id").cast("long").alias("v")))
    src = create_table(spark, ev.limit(2000), str(tmp_path / "src"))
    t = ru.create_rollup(spark, str(tmp_path / "src"),
                         str(tmp_path / "ru"), time_col="ts",
                         bucket="day", aggs={"v": "sum"})
    src.write(ev.limit(4000), mode="append")  # overlaps + extends
    got = ru.refresh_rollup(spark, t)
    assert got["mode"] == "incremental"
    want = {(r.bucket_ts, r.v_sum) for r in
            ru.read_rollup(spark, t).collect()}

    # rewind the cursor (simulated lost save) and replay: the txn
    # stamp is the authoritative cursor, so the replay is recognized
    # as already applied (round-9; the gate alone previously made the
    # replayed writes no-ops — same end state, honest mode now)
    t.set_properties({"rollup.last_version": str(got["from"])})
    got2 = ru.refresh_rollup(spark, ru.StarTable.for_path(
        spark, str(tmp_path / "ru")))
    assert got2["mode"] == "noop"
    assert {(r.bucket_ts, r.v_sum) for r in
            ru.read_rollup(spark, t).collect()} == want


# ---------------------------------------------------------------------------
# round 9: nullable group keys, DV-delete windows, cold sessions,
# broadcast budget
# ---------------------------------------------------------------------------

NULLABLE_MV_SQL = ("SELECT grp, sum(price) AS total, count(*) AS n, "
                   "avg(prio) AS mp FROM src GROUP BY grp")


def _null_grp_frame(spark, sf_dir, lo, hi):
    """Orders slice whose group key is NULL on a stripe — the single
    most common MV shape (GROUP BY over a nullable dimension)."""
    return (_orders_frame(spark, sf_dir, lo, hi)
            .withColumn("grp", F.when(F.col("k") % 11 == 0, F.lit(None))
                        .otherwise(F.col("st")).cast("string"))
            .drop("st"))


def _nullable_full(sess):
    return {tuple(r) for r in sess.spark.sql(NULLABLE_MV_SQL).collect()}


def _nullable_view(sess):
    return {tuple(r) for r in
            mv._strip_mv_hidden(sess.table("mv_t").to_df()).collect()}


def test_nullable_group_key_at_creation(sess, spark, sf_dir, tmp_path):
    """Round-8 confirmed defect (a): CREATE MATERIALIZED VIEW ... GROUP
    BY g over a source whose g holds NULL used to raise the NOT NULL
    hash invariant at creation. Now: creation succeeds, stays
    incremental, and the NULL group tracks DML bit-identically."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    src = create_table(spark, _null_grp_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"),
                            NULLABLE_MV_SQL)
    assert mv._load_registry(sess.warehouse)["mv_t"]["incremental"] is True
    assert any(r[0] is None for r in _nullable_view(sess))

    # DML storm touching the NULL group: more nulls, price updates on
    # null-keyed rows, then delete every null-keyed row (group vanishes)
    src.upsert(_null_grp_frame(spark, sf_dir, 600, 900))
    src.upsert(_null_grp_frame(spark, sf_dir, 0, 200)
               .filter(F.col("grp").isNull())
               .withColumn("price", (F.col("price") * 3)
                           .cast("decimal(18,2)")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type == "delta"
    assert _nullable_view(sess) == _nullable_full(sess)

    dml.delete(spark, src.store, condition="k % 11 = 0", use_delta=True)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    got = _nullable_view(sess)
    assert got == _nullable_full(sess)
    assert not any(r[0] is None for r in got)  # NULL group died cleanly


def test_nullable_group_key_arrives_later(sess, spark, sf_dir, tmp_path):
    """Round-8 confirmed defect (b), the brick: create on clean data,
    later upsert ONE null-keyed row — every subsequent refresh
    (incremental AND the full fallback) used to raise forever."""
    from starlake_spark import create_table

    clean = (_orders_frame(spark, sf_dir, 0, 600)
             .withColumn("grp", F.col("st")).drop("st"))
    src = create_table(spark, clean, str(tmp_path / "src"),
                       short_name="src", warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"),
                            NULLABLE_MV_SQL)

    src.upsert(_null_grp_frame(spark, sf_dir, 600, 700))  # nulls arrive
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    assert _nullable_view(sess) == _nullable_full(sess)
    assert any(r[0] is None for r in _nullable_view(sess))
    # and the NEXT refresh still works (the old failure was permanent)
    src.upsert(_null_grp_frame(spark, sf_dir, 700, 800))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True
    assert _nullable_view(sess) == _nullable_full(sess)
    assert mv._load_registry(sess.warehouse)["mv_t"]["incremental"] is True


def test_dv_delete_forces_full_refresh(sess, spark, sf_dir, tmp_path):
    """ADVICE (high): a deletion-vector delete on an append-only source
    adds sidecars without touching data-file paths — the old window
    guard saw 'no new files', returned noop, and the MV was silently
    wrong forever. Now any dv-set change forces the full fallback."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 900),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)  # non-hash: DV-eligible
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    before = _view_rows(sess)

    dml.delete(spark, src.store, condition="st = 'P'", use_dv=True)
    # the DV added a sidecar, no data file changed
    snap = src.store.snapshot()
    assert any(p.dv_files for p in snap.partitions.values())
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_t") is True  # NOT a noop
    got = _view_rows(sess)
    assert got == _full_rerun(sess)
    assert got != before
    assert not any(r[0] == "P" for r in got)  # deleted rows retracted


def test_cold_session_refresh_is_o_changes(spark, sf_dir, tmp_path):
    """Verdict task #2: update_material_view from a FRESH StarSession
    (cron-style new-session-per-refresh) must stay O(changes) — the
    spec probe registers empty manifest-schema views instead of
    degrading to the full re-run. Proven the hard way: a consumed
    source file is physically removed; the full path would throw."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    wh = str(tmp_path / "wh")
    sess = StarSession(spark, warehouse=wh)
    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 900),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=wh,
                       configuration={"compaction.auto": "false"})
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    src.write(_orders_frame(spark, sf_dir, 900, 1400), mode="append")

    # hide one consumed base file, drop every temp view: the next
    # session is as cold as a fresh cron process
    files = src.store.snapshot(1).all_files()
    victim = os.path.join(src.store.table_path, files[0].path)
    os.rename(victim, victim + ".hidden")
    for v in list(spark.catalog.listTables()):
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)
    try:
        cold = StarSession(spark, warehouse=wh)
        assert mv.update_material_view(cold, "mv_t") is True
        t = cold.table("mv_t")
        assert t.store.snapshot().commit_type == "delta"  # incremental
        # the probe views were dropped again (no residue)
        assert not any(v.isTemporary and v.name == "src"
                       for v in spark.catalog.listTables())
    finally:
        os.rename(victim + ".hidden", victim)
    sess2 = StarSession(spark, warehouse=wh)
    sess2.table("src")
    sess2._sync_views()
    got = {tuple(r) for r in
           mv._strip_mv_hidden(sess2.table("mv_t").to_df()).collect()}
    assert got == {tuple(r) for r in
                   sess2.spark.sql(MV_SQL).collect()}


def test_broadcast_budget_falls_back_to_shuffled_semi(
        sess, spark, sf_dir, tmp_path, monkeypatch):
    """Verdict task #3: above the key-count budget the prune uses a
    shuffled left-semi (no broadcast hint) — results identical."""
    from starlake_spark import create_table
    from starlake_spark.plans.mv import _prune_touched

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    src.upsert(_orders_frame(spark, sf_dir, 600, 800))
    sess._sync_views()
    monkeypatch.setattr(mv, "BROADCAST_KEY_LIMIT", 1)
    assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type == "delta"
    assert _view_rows(sess) == _full_rerun(sess)

    # plan pin on the helper: under the budget the prune carries the
    # broadcast hint, over it the hint is gone (Catalyst then picks a
    # shuffled semi join once the key frame exceeds the auto threshold).
    # Plain frames — a star-table scan's own plan may carry unrelated
    # hints that would pollute the string probe.
    old = spark.createDataFrame([("F",), ("P",), ("O",)], "st string")
    dk = spark.createDataFrame([("F",), ("O",)], "st string")

    def _hinted(df):
        return "strategy=broadcast" in \
            df._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(mv, "BROADCAST_KEY_LIMIT", 1_000_000)
    assert _hinted(_prune_touched(old, dk, ["st"], 2))
    monkeypatch.setattr(mv, "BROADCAST_KEY_LIMIT", 1)
    assert not _hinted(_prune_touched(old, dk, ["st"], 2))


# ---------------------------------------------------------------------------
# round 9 (verdict task #7, stretch): two-table inner-join incremental MVs
# ---------------------------------------------------------------------------

JOIN_MV_SQL = ("SELECT seg, sum(price) AS total, count(*) AS n, "
               "avg(prio) AS mp "
               "FROM fact JOIN dim ON fact.ck = dim.ck2 GROUP BY seg")


def _join_fixtures(sess, spark, sf_dir, tmp_path, fact_hi=600):
    from starlake_spark import create_table

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    fact = (o.filter(F.col("o_orderkey") < fact_hi)
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_custkey").alias("ck"),
                    F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
                    (F.col("o_orderkey") % 7).cast("int").alias("prio")))
    dim = c.select(F.col("c_custkey").alias("ck2"),
                   F.col("c_mktsegment").alias("seg"))
    ft = create_table(spark, fact, str(tmp_path / "fact"),
                      short_name="fact", warehouse=sess.warehouse,
                      hash_partitions=["k"], hash_bucket_num=4)
    dt = create_table(spark, dim, str(tmp_path / "dim"),
                      short_name="dim", warehouse=sess.warehouse)
    sess.register("fact", ft)
    sess.register("dim", dt)
    return ft, dt, fact, dim


def _join_view(sess):
    return {tuple(r) for r in
            mv._strip_mv_hidden(sess.table("mv_j").to_df()).collect()}


def _join_full(sess):
    sess._sync_views()
    return {tuple(r) for r in sess.spark.sql(JOIN_MV_SQL).collect()}


def test_join_mv_incremental_fact_storm(sess, spark, sf_dir, tmp_path):
    """Δfact ⋈ dim maintenance across a fact-side DML storm — upserts,
    retractions, a vanishing group — bit-identical to the full re-run,
    on the delta (upsert) path throughout."""
    from starlake_spark.operators import dml

    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    assert mv._load_registry(sess.warehouse)["mv_j"]["incremental"] is True
    assert _join_view(sess) == _join_full(sess)

    ft.upsert(fact.filter(F.col("k") % 3 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    dml.delete(spark, ft.store, condition="k % 7 = 1", use_delta=True)
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta"
    assert _join_view(sess) == _join_full(sess)

    # a second window keeps working (cursor bookkeeping is per-source)
    ft.upsert(fact.filter(F.col("k") % 5 == 0)
              .withColumn("ck", F.col("ck") + 1))  # join-key migration
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta"
    assert _join_view(sess) == _join_full(sess)


def test_join_mv_dim_side_window(sess, spark, sf_dir, tmp_path):
    """A dim-only window maintains through fact_current ⋈ Δdim — the
    symmetric one-changed-table rule."""
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)

    # new dim rows: some match existing fact FKs (ck+0 impossible —
    # use a copied slice with a fresh segment), some match nothing
    extra = (dim.limit(20)
             .withColumn("seg", F.lit("NEWSEG"))
             .withColumn("ck2", F.col("ck2") + 100000))
    hit = spark.createDataFrame(
        [(r.ck, "NEWSEG2") for r in
         sess.table("fact").to_df().select("ck").distinct().limit(5)
         .collect()], "ck2 bigint, seg string")
    dt.write(extra.union(hit), mode="append")
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta"
    got = _join_view(sess)
    assert got == _join_full(sess)
    assert any(r[0] == "NEWSEG2" for r in got)  # matched rows landed
    assert not any(r[0] == "NEWSEG" for r in got)  # unmatched didn't


def test_join_mv_both_changed_sequential_windows(sess, spark, sf_dir,
                                                 tmp_path):
    """Round-10 verdict task #2: fact AND dim committed in the same
    window → TWO sequential one-sided incremental steps (dim at pinned
    old fact, then fact at new dim), both on the delta path — no full
    re-run. The ΔA⋈ΔB cross-term is covered because the later step's
    change frame joins the earlier step's NEW version (telescoping).
    Bit-identical to the full re-run, including a cross-term pair (a
    new fact row matching a dim row added in the same window)."""
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    overwrites_before = _count_overwrites(sess)

    # fact-side churn + a NEW dim row + a NEW fact row matching ONLY
    # that new dim row — the pure ΔA⋈ΔB case a single one-sided pass
    # would miss
    ft.upsert(fact.filter(F.col("k") % 4 == 0)
              .withColumn("price", (F.col("price") * 3)
                          .cast("decimal(18,2)")))
    from decimal import Decimal

    ft.upsert(spark.createDataFrame(
        [(990001, 999999, Decimal("123.45"), 1)],
        "k bigint, ck bigint, price decimal(18,2), prio int"))
    dt.write(spark.createDataFrame([(999999, "XSEG")],
                                   "ck2 bigint, seg string"), mode="append")
    assert mv.update_material_view(sess, "mv_j") is True
    # both steps were delta commits — the backing table saw NO overwrite
    assert _count_overwrites(sess) == overwrites_before
    assert sess.table("mv_j").store.snapshot().commit_type in (
        "delta", "delete_delta", "mixed_delta")
    got = _join_view(sess)
    assert got == _join_full(sess)
    assert any(r[0] == "XSEG" for r in got)  # cross-term pair landed
    # the NEXT fact-only window still works (per-source cursors intact)
    ft.upsert(fact.filter(F.col("k") % 9 == 0)
              .withColumn("prio", (F.col("prio") + 1).cast("int")))
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta"
    assert _join_view(sess) == _join_full(sess)


def _count_overwrites(sess, name="mv_j"):
    st = sess.table(name).store
    return sum(1 for v in st.list_versions()
               if st.snapshot(v).commit_type == "write")


def test_join_mv_crash_between_sequential_steps(sess, spark, sf_dir,
                                                tmp_path):
    """A crash AFTER the first one-sided step committed (its source
    stamped) but before the registry save: the resumed refresh sees the
    stamped source as unchanged and applies exactly the remaining
    window — no double-apply, answers bit-identical."""
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    fps_before = dict(mv._load_registry(sess.warehouse)["mv_j"]
                      ["fingerprints"])

    ft.upsert(fact.filter(F.col("k") % 5 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    dt.write(spark.createDataFrame([(888888, "CRSEG")],
                                   "ck2 bigint, seg string"), mode="append")

    # crash injection: let the FIRST step commit, then die
    calls = {"n": 0}
    orig = mv._apply_delta

    def boom(*a, **k):
        calls["n"] += 1
        orig(*a, **k)
        if calls["n"] == 1:
            raise RuntimeError("injected crash between steps")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(mv, "_apply_delta", boom)
        _forbid_full_refresh(mp)
        with pytest.raises(AssertionError, match="full rebuild"):
            mv.update_material_view(sess, "mv_j")
    assert calls["n"] == 1  # the injected crash, right after step one
    # registry still at the old fingerprints (crash before save)
    assert mv._load_registry(sess.warehouse)["mv_j"]["fingerprints"] == \
        fps_before

    # resume: only the unprocessed window applies; both sources end
    # consistent and the result matches the full re-run exactly
    assert mv.update_material_view(sess, "mv_j") is True
    assert _join_view(sess) == _join_full(sess)
    # steady state
    assert mv.update_material_view(sess, "mv_j") is False


def test_join_mv_unreadable_window_full_fallback(sess, spark, sf_dir,
                                                 tmp_path):
    """If any step's window is unreadable (cursor manifest expired →
    _change_window None), the whole refresh falls back to the full
    rebuild — even when another source's window was processable."""
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)

    ft.upsert(fact.filter(F.col("k") % 6 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    dt.write(spark.createDataFrame([(777777, "FSEG")],
                                   "ck2 bigint, seg string"), mode="append")

    orig = mv._change_window

    def flaky(spark_, src, last, cur):
        # dim window unreadable; fact window fine
        if src.table_path == dt.store.table_path:
            return None
        return orig(spark_, src, last, cur)

    mv._change_window = flaky
    try:
        assert mv.update_material_view(sess, "mv_j") is True
    finally:
        mv._change_window = orig
    assert sess.table("mv_j").store.snapshot().commit_type == "write"
    assert _join_view(sess) == _join_full(sess)
    # next fact-only window is incremental again
    ft.upsert(fact.filter(F.col("k") % 11 == 0)
              .withColumn("prio", (F.col("prio") + 2).cast("int")))
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta"
    assert _join_view(sess) == _join_full(sess)


def test_join_mv_replay_and_o_changes(sess, spark, sf_dir, tmp_path):
    """Exactly-once for join views: per-source txn stamps resume the
    window after a lost registry save."""
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    fps_before = dict(mv._load_registry(sess.warehouse)["mv_j"]
                      ["fingerprints"])
    ft.upsert(fact.filter(F.col("k") % 2 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    assert mv.update_material_view(sess, "mv_j") is True
    want = _join_view(sess)

    # lost registry save: replay resumes from the per-source stamp
    reg = mv._load_registry(sess.warehouse)
    reg["mv_j"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)
    assert mv.update_material_view(sess, "mv_j") is False  # already applied
    assert _join_view(sess) == want
    # crash + NEW fact commit: the new window applies exactly once
    reg = mv._load_registry(sess.warehouse)
    reg["mv_j"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)
    ft.upsert(fact.filter(F.col("k") % 13 == 0)
              .withColumn("prio", (F.col("prio") + 3).cast("int")))
    assert mv.update_material_view(sess, "mv_j") is True
    assert _join_view(sess) == _join_full(sess)


def test_join_mv_fact_window_reads_o_changes(spark, sf_dir, tmp_path):
    """O(changes) proof for the join path: with an APPEND-ONLY fact, a
    consumed fact file is physically removed and the fact-side refresh
    still succeeds — it plans only the new files ⋈ dim, never fact
    history (the full re-run over the same table throws)."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    fact0 = (o.filter(F.col("o_orderkey") < 600)
             .select(F.col("o_orderkey").alias("k"),
                     F.col("o_custkey").alias("ck"),
                     F.col("o_totalprice").cast("decimal(18,2)")
                     .alias("price"),
                     (F.col("o_orderkey") % 7).cast("int").alias("prio")))
    dim = c.select(F.col("c_custkey").alias("ck2"),
                   F.col("c_mktsegment").alias("seg"))
    ft = create_table(spark, fact0, str(tmp_path / "fact"),
                      short_name="fact", warehouse=sess.warehouse,
                      configuration={"compaction.auto": "false"})
    dt = create_table(spark, dim, str(tmp_path / "dim"),
                      short_name="dim", warehouse=sess.warehouse)
    sess.register("fact", ft)
    sess.register("dim", dt)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)

    files = ft.store.snapshot().all_files()
    victim = os.path.join(ft.store.table_path, files[0].path)
    os.rename(victim, victim + ".hidden")
    try:
        more = (o.filter((F.col("o_orderkey") >= 600)
                         & (F.col("o_orderkey") < 1000))
                .select(F.col("o_orderkey").alias("k"),
                        F.col("o_custkey").alias("ck"),
                        F.col("o_totalprice").cast("decimal(18,2)")
                        .alias("price"),
                        (F.col("o_orderkey") % 7).cast("int")
                        .alias("prio")))
        ft.write(more, mode="append")
        assert mv.update_material_view(sess, "mv_j") is True
        t = sess.table("mv_j")
        assert t.store.snapshot().commit_type == "delta"
    finally:
        os.rename(victim + ".hidden", victim)
    assert _join_view(sess) == _join_full(sess)


def test_join_mv_three_table_star(spark, sf_dir, tmp_path):
    """N-way delta-join maintenance: fact ⋈ customer-dim ⋈ nation-dim
    (a real star shape). Fact-side windows maintain incrementally;
    a disconnected 'join' (no equi-path to one table) is refused at
    spec time (full refresh, never a cartesian)."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    fact = (o.filter(F.col("o_orderkey") < 800)
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_custkey").alias("ck"),
                    F.col("o_totalprice").cast("decimal(18,2)")
                    .alias("price")))
    cust = c.select(F.col("c_custkey").alias("ck2"),
                    F.col("c_nationkey").alias("nk"))
    nat = n.select(F.col("n_nationkey").alias("nk2"),
                   F.col("n_name").alias("nation"))
    ft = create_table(spark, fact, str(tmp_path / "fact"),
                      short_name="f3", warehouse=sess.warehouse,
                      hash_partitions=["k"], hash_bucket_num=4)
    ct = create_table(spark, cust, str(tmp_path / "cust"),
                      short_name="c3", warehouse=sess.warehouse)
    nt = create_table(spark, nat, str(tmp_path / "nat"),
                      short_name="n3", warehouse=sess.warehouse)
    for nm, t in (("f3", ft), ("c3", ct), ("n3", nt)):
        sess.register(nm, t)
    sql3 = ("SELECT nation, sum(price) AS total, count(*) AS cnt "
            "FROM f3 JOIN c3 ON f3.ck = c3.ck2 "
            "JOIN n3 ON c3.nk = n3.nk2 GROUP BY nation")
    mv.create_material_view(sess, "mv3", str(tmp_path / "mv3"), sql3)
    assert mv._load_registry(sess.warehouse)["mv3"]["incremental"] is True

    def full():
        sess._sync_views()
        return {tuple(r) for r in sess.spark.sql(sql3).collect()}

    def view():
        return {tuple(r) for r in
                mv._strip_mv_hidden(sess.table("mv3").to_df()).collect()}

    assert view() == full()
    ft.upsert(fact.filter(F.col("k") % 4 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    dml.delete(spark, ft.store, condition="k % 9 = 2", use_delta=True)
    assert mv.update_material_view(sess, "mv3") is True
    assert sess.table("mv3").store.snapshot().commit_type == "delta"
    assert view() == full()
    # middle-dim window: customers migrate nations — the change frame
    # sits in the MIDDLE of the join chain, joining fact on one side
    # and nation on the other
    ct.write(cust.limit(30).withColumn("nk", (F.col("nk") + 1) % 25),
             mode="append")  # duplicate ck2 rows join 2x — still exact
    assert mv.update_material_view(sess, "mv3") is True
    assert sess.table("mv3").store.snapshot().commit_type == "delta"
    assert view() == full()

    # disconnected graph: no equi-path to n3 → spec refuses (full path)
    bad = ("SELECT nation, sum(price) AS total "
           "FROM f3 JOIN c3 ON f3.ck = c3.ck2, n3 GROUP BY nation")
    spec = mv._incremental_spec(sess, bad)
    assert spec is None


def test_join_mv_where_and_hash_dim_retraction(spark, sf_dir, tmp_path):
    """Join views with WHERE conjuncts over BOTH tables, and a HASH dim
    whose window RETRACTS (an upsert rewrites segments — preimages must
    un-count the old joins)."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    fact = o.select(F.col("o_orderkey").alias("k"),
                    F.col("o_custkey").alias("ck"),
                    F.col("o_totalprice").cast("decimal(18,2)")
                    .alias("price"))
    dim = c.select(F.col("c_custkey").alias("ck2"),
                   F.col("c_mktsegment").alias("seg"))
    ft = create_table(spark, fact, str(tmp_path / "fact"),
                      short_name="fw", warehouse=sess.warehouse,
                      hash_partitions=["k"], hash_bucket_num=4)
    dt = create_table(spark, dim, str(tmp_path / "dim"),
                      short_name="dw", warehouse=sess.warehouse,
                      hash_partitions=["ck2"], hash_bucket_num=4)
    sess.register("fw", ft)
    sess.register("dw", dt)
    sql = ("SELECT seg, sum(price) AS total, count(*) AS n "
           "FROM fw JOIN dw ON fw.ck = dw.ck2 "
           "WHERE price > 1000 AND seg <> 'MACHINERY' GROUP BY seg")
    mv.create_material_view(sess, "mvw", str(tmp_path / "mv"), sql)
    assert mv._load_registry(sess.warehouse)["mvw"]["incremental"] is True

    def full():
        sess._sync_views()
        return {tuple(r) for r in sess.spark.sql(sql).collect()}

    def view():
        return {tuple(r) for r in
                mv._strip_mv_hidden(sess.table("mvw").to_df()).collect()}

    assert view() == full()
    # hash-dim retraction: a slice of customers migrates INTO the
    # filtered-out segment (rows leave the view) and another slice out
    # of it (rows enter)
    dt.upsert(dim.filter(F.col("ck2") % 5 == 0)
              .withColumn("seg", F.lit("MACHINERY")))
    dt.upsert(dim.filter((F.col("ck2") % 5 == 1)
                         & (F.col("seg") == "MACHINERY"))
              .withColumn("seg", F.lit("BUILDING")))
    assert mv.update_material_view(sess, "mvw") is True
    assert sess.table("mvw").store.snapshot().commit_type == "delta"
    assert view() == full()
    # then a fact window under the same WHERE
    ft.upsert(fact.filter(F.col("k") % 6 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    assert mv.update_material_view(sess, "mvw") is True
    assert view() == full()


def test_join_mv_global_aggregate(spark, sf_dir, tmp_path):
    """GROUP BY () over a join: single-row backing table maintained by
    a 1-row overwrite per window."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ft = create_table(
        spark, o.select(F.col("o_orderkey").alias("k"),
                        F.col("o_custkey").alias("ck"),
                        F.col("o_totalprice").cast("decimal(18,2)")
                        .alias("price")),
        str(tmp_path / "fact"), short_name="fg",
        warehouse=sess.warehouse, hash_partitions=["k"],
        hash_bucket_num=4)
    dt = create_table(
        spark, c.select(F.col("c_custkey").alias("ck2")),
        str(tmp_path / "dim"), short_name="dg", warehouse=sess.warehouse)
    sess.register("fg", ft)
    sess.register("dg", dt)
    sql = ("SELECT sum(price) AS total, count(*) AS n "
           "FROM fg JOIN dg ON fg.ck = dg.ck2")
    mv.create_material_view(sess, "mvg", str(tmp_path / "mv"), sql)
    assert mv._load_registry(sess.warehouse)["mvg"]["incremental"] is True
    ft.upsert(ft.to_df().limit(200)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    assert mv.update_material_view(sess, "mvg") is True
    sess._sync_views()
    got = {tuple(r) for r in
           mv._strip_mv_hidden(sess.table("mvg").to_df()).collect()}
    want = {tuple(r) for r in sess.spark.sql(sql).collect()}
    assert got == want and len(got) == 1


def test_join_mv_cold_session_incremental(spark, sf_dir, tmp_path):
    """Cold-session refresh for JOIN views: the probe-view registration
    covers every source, so a fresh-session refresh of a join MV stays
    on the delta path."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    wh = str(tmp_path / "wh")
    sess = StarSession(spark, warehouse=wh)
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    ft.upsert(fact.filter(F.col("k") % 3 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    for v in list(spark.catalog.listTables()):
        if v.isTemporary:
            spark.catalog.dropTempView(v.name)
    cold = StarSession(spark, warehouse=wh)
    assert mv.update_material_view(cold, "mv_j") is True
    t = cold.table("mv_j")
    assert t.store.snapshot().commit_type == "delta"  # incremental
    sess2 = StarSession(spark, warehouse=wh)
    sess2.table("fact"), sess2.table("dim")
    assert _join_view(sess2) == _join_full(sess2)


def test_join_mv_eligibility_boundary(sess, spark, sf_dir, tmp_path):
    """Shapes OUTSIDE the maintainable join subset must refuse at spec
    time (incremental=False → reference-parity full refresh), never
    produce a wrong incremental plan."""
    from starlake_spark import create_table

    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)

    def spec_of(sql):
        return mv._incremental_spec(sess, sql)

    # maintainable baseline (sanity)
    assert spec_of(JOIN_MV_SQL) is not None
    # outer join
    assert spec_of(
        "SELECT seg, count(*) AS n FROM fact LEFT JOIN dim "
        "ON fact.ck = dim.ck2 GROUP BY seg") is None
    # DISTINCT aggregate
    assert spec_of(
        "SELECT seg, count(DISTINCT prio) AS n FROM fact JOIN dim "
        "ON fact.ck = dim.ck2 GROUP BY seg") is None
    # HAVING (filter above the aggregate)
    assert spec_of(
        "SELECT seg, count(*) AS n FROM fact JOIN dim "
        "ON fact.ck = dim.ck2 GROUP BY seg HAVING count(*) > 10") is None
    # float accumulation (sum over double): retraction is inexact
    assert spec_of(
        "SELECT seg, sum(CAST(price AS DOUBLE)) AS s FROM fact JOIN dim "
        "ON fact.ck = dim.ck2 GROUP BY seg") is None
    # min/max with a retractable (hash) source in the join
    assert spec_of(
        "SELECT seg, max(price) AS mx FROM fact JOIN dim "
        "ON fact.ck = dim.ck2 GROUP BY seg") is None
    # self-join
    assert spec_of(
        "SELECT a.st, count(*) AS n FROM "
        "(SELECT ck AS st, k FROM fact) a JOIN fact b ON a.k = b.k "
        "GROUP BY a.st") is None
    # cartesian (no ON equality)
    assert spec_of(
        "SELECT seg, count(*) AS n FROM fact CROSS JOIN dim "
        "GROUP BY seg") is None
    # group key not in the output (cannot key the upsert)
    assert spec_of(
        "SELECT count(*) AS n FROM fact JOIN dim ON fact.ck = dim.ck2 "
        "GROUP BY seg") is None


def test_mv_multi_window_differential_storm(sess, spark, sf_dir, tmp_path):
    """Six alternating fact/dim windows, refresh after EACH — the
    incremental view must equal the full re-run at every step (cursor
    bookkeeping across many windows, not just one)."""
    from starlake_spark import create_table
    from starlake_spark.operators import dml

    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path,
                                       fact_hi=500)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    steps = [
        lambda: ft.upsert(fact.filter(F.col("k") % 3 == 0)
                          .withColumn("price", (F.col("price") * 2)
                                      .cast("decimal(18,2)"))),
        lambda: dt.write(dim.limit(10).withColumn("seg", F.lit("W1")),
                         mode="append"),
        lambda: dml.delete(spark, ft.store, condition="k % 5 = 2",
                           use_delta=True),
        lambda: ft.upsert(fact.filter(F.col("k") % 4 == 1)
                          .withColumn("ck", F.col("ck") + 7)),
        lambda: dt.write(dim.limit(5).withColumn("seg", F.lit("W2")),
                         mode="append"),
        lambda: ft.upsert(fact.filter(F.col("k") % 11 == 0)
                          .withColumn("prio", (F.col("prio") + 2)
                                      .cast("int"))),
    ]
    for i, step in enumerate(steps):
        step()
        assert mv.update_material_view(sess, "mv_j") is True, f"step {i}"
        # 'compact' = the backing table's own auto-compaction after the
        # delta landed (healthy); a full fallback would stamp 'write'
        assert sess.table("mv_j").store.snapshot().commit_type in (
            "delta", "delete_delta", "mixed_delta", "compact"), \
            f"step {i} fell back to full"
        assert _join_view(sess) == _join_full(sess), f"step {i} diverged"


def test_full_fallback_stamps_cursor_no_double_apply(sess, spark, sf_dir,
                                                     tmp_path):
    """The full-fallback overwrite stamps the consumed source versions
    in its own commit. Scenario: a transient failure forces the full
    path, the registry save is lost (crash), then new data arrives —
    the incremental resume must start AFTER the overwrite's content,
    not at the stale fingerprint (which would re-apply partials the
    overwrite already contains — doubled aggregates)."""
    from starlake_spark import create_table

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    fps_before = dict(mv._load_registry(sess.warehouse)["mv_t"]
                      ["fingerprints"])

    # window A lands, but the incremental path hits a transient error →
    # reference-parity full fallback (overwrite)
    src.write(_orders_frame(spark, sf_dir, 600, 900), mode="append")
    with pytest.MonkeyPatch.context() as mp:
        def _boom(session, ent, t):
            raise RuntimeError("transient executor loss")

        mp.setattr(mv, "_incremental_refresh", _boom)
        assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type == "write"

    # crash: the registry fingerprint save is lost
    reg = mv._load_registry(sess.warehouse)
    reg["mv_t"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)

    # window B arrives; the resume must be incremental AND exact
    src.write(_orders_frame(spark, sf_dir, 900, 1100), mode="append")
    assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type == "delta", \
        "resume did not pick up the overwrite's stamp"
    assert _view_rows(sess) == _full_rerun(sess), \
        "window A partials were double-applied"


def test_join_full_fallback_stamps_all_sources(spark, sf_dir, tmp_path):
    """Same crash window for JOIN views: the overwrite stamps BOTH
    per-source cursors atomically."""
    from starlake_spark import create_table
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    ft, dt, fact, dim = _join_fixtures(sess, spark, sf_dir, tmp_path)
    mv.create_material_view(sess, "mv_j", str(tmp_path / "mv"), JOIN_MV_SQL)
    fps_before = dict(mv._load_registry(sess.warehouse)["mv_j"]
                      ["fingerprints"])

    # both tables change AND the fact window is unreadable → genuine
    # full fallback (both-changed alone now runs sequential one-sided
    # incremental steps, round 10)
    ft.upsert(fact.filter(F.col("k") % 3 == 0)
              .withColumn("price", (F.col("price") * 2)
                          .cast("decimal(18,2)")))
    dt.write(spark.createDataFrame([(888888, "ZZ")],
                                   "ck2 bigint, seg string"), mode="append")
    _orig_cw = mv._change_window
    mv._change_window = lambda *a, **k: None
    try:
        assert mv.update_material_view(sess, "mv_j") is True
    finally:
        mv._change_window = _orig_cw
    assert sess.table("mv_j").store.snapshot().commit_type == "write"

    reg = mv._load_registry(sess.warehouse)
    reg["mv_j"]["fingerprints"] = fps_before
    mv._save_registry(reg, sess.warehouse)

    ft.upsert(fact.filter(F.col("k") % 7 == 0)
              .withColumn("prio", (F.col("prio") + 1).cast("int")))
    assert mv.update_material_view(sess, "mv_j") is True
    assert sess.table("mv_j").store.snapshot().commit_type == "delta", \
        "join resume did not pick up the overwrite's stamps"
    assert _join_view(sess) == _join_full(sess), \
        "pre-crash window was double-applied"


# ---------------------------------------------------------------------------
# round 10: source rollback / recreation re-anchoring
# ---------------------------------------------------------------------------


def test_source_recreated_at_same_path_forces_full_and_recovers(
        sess, spark, sf_dir, tmp_path):
    """A source dropped and recreated at the SAME path restarts version
    numbering: every cursor (fingerprint, txn stamp) refers to the old
    incarnation. The refresh must (a) detect the identity break via the
    recorded source table_ids, (b) run the full rebuild, (c) RESET the
    txn-registry stamp down with the overwrite — the old monotonic
    stamp would otherwise gate later incremental upserts into silent
    no-ops — and (d) resume incremental refreshes on the new
    incarnation."""
    import shutil

    from starlake_spark import create_table

    src_path = str(tmp_path / "src")
    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       src_path, short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    reg = mv._load_registry(sess.warehouse)
    assert reg["mv_t"]["source_ids"]  # identity recorded at creation

    # build up a real stamp through incremental refreshes
    for lo, hi in [(600, 900), (900, 1200), (1200, 1400)]:
        src.write(_orders_frame(spark, sf_dir, lo, hi), mode="append")
        assert mv.update_material_view(sess, "mv_t") is True
    t = sess.table("mv_t")
    key = f"txn:mv_refresh:{t.info.table_id}"
    assert t.store.snapshot().streaming.get(key, -1) >= 3

    # recreate the source at the same path with DIFFERENT content;
    # bypass the session (no drop-cascade) — the external-writer case
    shutil.rmtree(src_path)
    src2 = create_table(spark, _orders_frame(spark, sf_dir, 0, 250),
                        src_path, short_name="src",
                        warehouse=sess.warehouse)
    sess.register("src", src2)

    assert mv.update_material_view(sess, "mv_t") is True
    t = sess.table("mv_t")
    # full rebuild (overwrite), not an incremental window over the
    # unrelated new incarnation
    assert t.store.snapshot().commit_type == "write"
    assert _view_rows(sess) == _full_rerun(sess)
    # the stamp came DOWN with the overwrite
    assert t.store.snapshot().streaming.get(key, -1) == \
        src2.store.latest_version()
    # registry re-anchored to the new incarnation's identity
    reg = mv._load_registry(sess.warehouse)
    assert reg["mv_t"]["source_ids"]["src"] == \
        src2.store.table_info().table_id

    # incremental refreshes RESUME on the new incarnation (would
    # silently no-op under the old poisoned stamp)
    src2.write(_orders_frame(spark, sf_dir, 250, 500), mode="append")
    assert mv.update_material_view(sess, "mv_t") is True
    assert sess.table("mv_t").store.snapshot().commit_type == "delta"
    assert _view_rows(sess) == _full_rerun(sess)


def test_recreated_source_same_version_count_reads_stale(
        sess, spark, sf_dir, tmp_path):
    """Version-collision case: the recreated source lands on the SAME
    latest_version as the recorded fingerprint, so version comparison
    alone says 'fresh'. The identity check must flag the view stale
    (update returns True, and a non-auto-update rewrite must refuse to
    serve it)."""
    import shutil

    from starlake_spark import create_table

    src_path = str(tmp_path / "src")
    s1 = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                      src_path, short_name="src", warehouse=sess.warehouse)
    sess.register("src", s1)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)

    shutil.rmtree(src_path)
    s2 = create_table(spark, _orders_frame(spark, sf_dir, 0, 300),
                      src_path, short_name="src", warehouse=sess.warehouse)
    sess.register("src", s2)
    # same path, same latest_version (1), different content + identity
    assert mv._fingerprints(sess, {"src"}) == \
        mv._load_registry(sess.warehouse)["mv_t"]["fingerprints"]

    # rewrite must NOT serve the stale view (auto_update=False)
    assert mv.try_rewrite(sess, MV_SQL) is None

    # update must see through the version collision and rebuild
    assert mv.update_material_view(sess, "mv_t") is True
    assert _view_rows(sess) == _full_rerun(sess)
    # steady state restored
    assert mv.update_material_view(sess, "mv_t") is False


# ---------------------------------------------------------------------------
# round 10 (verdict task #1): bounded preimage probes + cell-pruned windows
# ---------------------------------------------------------------------------


class _CountingLister:
    """Counts existence probes while delegating to the filesystem."""

    def __init__(self):
        from starlake_spark.listing import FileSystemLister

        self._fs = FileSystemLister()
        self.exists_calls = []

    def list_files(self, root):
        return self._fs.list_files(root)

    def remove(self, path):
        self._fs.remove(path)

    def exists(self, path):
        self.exists_calls.append(path)
        return self._fs.exists(path)


def test_refresh_probes_o_window_not_o_table(sess, spark, sf_dir, tmp_path):
    """The hash-window pre-probe must HEAD only files EXPIRED inside
    the refresh window (what vacuum could have taken), never the whole
    cursor snapshot — the old O(table) serial probe loop is minutes of
    driver stall per refresh on an object store."""
    from starlake_spark import create_table
    from starlake_spark.listing import set_lister

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), hash_partitions=["k"],
                       hash_bucket_num=4, short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    last_v = src.store.latest_version()

    # pure-upsert window: files accumulate, none expire
    for lo, hi in [(600, 700), (700, 800), (100, 200)]:
        src.upsert(_orders_frame(spark, sf_dir, lo, hi))
    cursor_files = {f.path for f in src.store.snapshot(last_v).all_files()}
    cur_files = {f.path for f in src.store.snapshot().all_files()}
    expected_probes = len(cursor_files - cur_files)
    assert len(cur_files) >= 4  # something for O(table) to have probed

    cl = _CountingLister()
    set_lister(cl)
    try:
        assert mv.update_material_view(sess, "mv_t") is True
    finally:
        set_lister(None)
    assert sess.table("mv_t").store.snapshot().commit_type in (
        "delta", "delete_delta", "mixed_delta")
    probed = [p for p in cl.exists_calls
              if src.store.table_path in p]
    assert len(probed) == expected_probes, \
        f"probed {len(probed)} files, window expired {expected_probes} " \
        f"(table has {len(cur_files)})"
    assert _view_rows(sess) == _full_rerun(sess)


def test_compaction_window_probes_only_expired(sess, spark, sf_dir,
                                               tmp_path):
    """A compaction inside the window expires files: exactly those may
    be probed (they are the preimages vacuum could take), and the
    state-diff window still nets to no row changes."""
    from starlake_spark import create_table
    from starlake_spark.listing import set_lister

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 400),
                       str(tmp_path / "src"), hash_partitions=["k"],
                       hash_bucket_num=4, short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    src.upsert(_orders_frame(spark, sf_dir, 400, 500))
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)
    last_v = src.store.latest_version()

    src.upsert(_orders_frame(spark, sf_dir, 500, 560))
    src.compaction()
    cursor_files = {f.path for f in src.store.snapshot(last_v).all_files()}
    cur_files = {f.path for f in src.store.snapshot().all_files()}
    expected = len(cursor_files - cur_files)
    assert expected > 0  # compaction really expired preimages

    cl = _CountingLister()
    set_lister(cl)
    try:
        mv.update_material_view(sess, "mv_t")
    finally:
        set_lister(None)
    probed = [p for p in cl.exists_calls if src.store.table_path in p]
    assert len(probed) == expected
    assert _view_rows(sess) == _full_rerun(sess)


def test_hash_window_never_opens_untouched_cells(sess, spark, sf_dir,
                                                 tmp_path):
    """Cell pruning, proven physically: with a cursor-snapshot file in
    an UNTOUCHED hash bucket moved off disk, the incremental refresh
    still succeeds — the window's boundary scans plan only the touched
    (partition, bucket) cells, so the missing file is neither probed
    nor read. (A full re-run — or the old unpruned window — would have
    opened it and failed.)"""
    import os as _os

    from starlake_spark import create_table
    from starlake_spark.operators import dml as _dml

    src = create_table(spark, _orders_frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), hash_partitions=["k"],
                       hash_bucket_num=4, short_name="src",
                       warehouse=sess.warehouse)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_t", str(tmp_path / "mv"), MV_SQL)

    before = {f.path: f for f in src.store.snapshot().all_files()}
    # touch ONE key → one bucket
    one = _orders_frame(spark, sf_dir, 7, 8).withColumn(
        "price", F.col("price") * 3)
    assert one.count() == 1
    src.upsert(one)
    after = src.store.snapshot().all_files()
    touched_buckets = {f.bucket_id for f in after
                       if f.path not in before}
    victims = [f for f in before.values()
               if f.bucket_id not in touched_buckets]
    assert victims, "need an untouched bucket for the proof"
    vp = _os.path.join(src.store.table_path, victims[0].path)
    _os.rename(vp, vp + ".hidden")
    try:
        with pytest.MonkeyPatch.context() as mp:
            _forbid_full_refresh(mp)
            assert mv.update_material_view(sess, "mv_t") is True
        assert sess.table("mv_t").store.snapshot().commit_type in (
            "delta", "delete_delta", "mixed_delta")
    finally:
        _os.rename(vp + ".hidden", vp)
    assert _view_rows(sess) == _full_rerun(sess)


# ---------------------------------------------------------------------------
# round 10: Δ-key file pruning for pinned join sides
# ---------------------------------------------------------------------------


def test_join_prune_predicates_unit(spark):
    spec = {"join_pairs": [
        {"lt": "fact", "rt": "dim", "l": "fact__ck", "r": "dim__ck2"},
        {"lt": "dim", "rt": "other", "l": "dim__x", "r": "other__y"},
    ]}
    ch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None)], "ck2 bigint, x string")
    got = mv._join_prune_predicates(ch, spec, "dim")
    assert set(got) == {"fact", "other"}
    # int keys render bare, in-window distinct, nulls dropped
    assert sorted(got["fact"].replace("ck IN (", "").rstrip(")")
                  .split(", ")) == ["1", "2"]
    # string keys quote + escape
    assert got["other"] in ("y IN ('a', 'b')", "y IN ('b', 'a')")
    ch2 = spark.createDataFrame([(9, "it''s")], "ck2 bigint, x string")
    got2 = mv._join_prune_predicates(ch2, spec, "dim")
    assert got2["other"] == "y IN ('it''''s')"
    # over budget → no predicate (pure optimization, silently off)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(mv, "JOIN_PRUNE_KEY_LIMIT", 1)
        got3 = mv._join_prune_predicates(ch, spec, "dim")
    assert "fact" not in got3 and "other" not in got3
    # transitively-connected tables are never pruned
    got4 = mv._join_prune_predicates(
        spark.createDataFrame([(5,)], "ck bigint"), spec, "fact")
    assert set(got4) == {"dim"}  # not "other" (no direct edge to fact)


def test_dim_window_prunes_fact_partitions_physically(sess, spark, sf_dir,
                                                      tmp_path):
    """With the fact range-partitioned on the join key, a dim-side
    window must read ONLY the fact partitions holding the Δ keys: a
    fact file in an untouched partition is moved off disk and the
    incremental refresh still succeeds — the Δ-key IN predicate prunes
    that partition at the manifest."""
    import os as _os

    from starlake_spark import create_table

    from decimal import Decimal

    fact = spark.createDataFrame(
        [(i, i % 4, Decimal(i)) for i in range(200)],
        "k bigint, ck bigint, price decimal(18,2)")
    dim = spark.createDataFrame(
        [(0, "S0"), (1, "S1"), (2, "S2")], "ck2 bigint, seg string")
    ft = create_table(spark, fact, str(tmp_path / "factp"),
                      range_partitions=["ck"], short_name="factp",
                      warehouse=sess.warehouse)
    dt = create_table(spark, dim, str(tmp_path / "dimp"),
                      short_name="dimp", warehouse=sess.warehouse)
    sess.register("factp", ft)
    sess.register("dimp", dt)
    mv.create_material_view(
        sess, "mv_p", str(tmp_path / "mvp"),
        "SELECT seg, sum(price) AS total, count(*) AS n "
        "FROM factp JOIN dimp ON factp.ck = dimp.ck2 GROUP BY seg")

    # dim window touches ONLY ck=3 (previously unmatched fact rows)
    dt.write(spark.createDataFrame([(3, "S3")], "ck2 bigint, seg string"),
             mode="append")
    # hide a fact file from an UNTOUCHED partition (ck=1)
    victim = next(f for f in ft.store.snapshot().all_files()
                  if f.range_value == "ck=1")
    vp = _os.path.join(ft.store.table_path, victim.path)
    _os.rename(vp, vp + ".hidden")
    try:
        with pytest.MonkeyPatch.context() as mp:
            _forbid_full_refresh(mp)
            assert mv.update_material_view(sess, "mv_p") is True
        assert sess.table("mv_p").store.snapshot().commit_type in (
            "delta", "delete_delta", "mixed_delta")
    finally:
        _os.rename(vp + ".hidden", vp)
    got = {tuple(r) for r in
           mv._strip_mv_hidden(sess.table("mv_p").to_df()).collect()}
    sess._sync_views()
    want = {tuple(r) for r in sess.spark.sql(
        "SELECT seg, sum(price) AS total, count(*) AS n "
        "FROM factp JOIN dimp ON factp.ck = dimp.ck2 GROUP BY seg")
        .collect()}
    assert got == want
    from decimal import Decimal as _D

    assert ("S3", _D(sum(i for i in range(200) if i % 4 == 3)), 50) in got
