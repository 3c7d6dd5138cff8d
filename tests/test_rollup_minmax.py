"""Round-10: min/max rollups over MUTABLE (hash) sources via the
threatened-cell rescan (plans/rollup.py _minmax_threatened /
_rescan_cells).

A retracted extremum can't be undone by the rollup's min/max merge
operators, so rounds ≤9 refused the shape at create. Now the signed
window carries per-cell retraction probes; cells the probes threaten
are REPLACED by pinned full-cell recomputes (CoW predicate delete +
absolute rows in the gated upsert), everything else keeps the fold.
read_rollup_realtime applies the same logic read-only."""

import pytest
from pyspark.sql import functions as F

from starlake_spark.plans import rollup as R


@pytest.fixture()
def src(spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = e.select(F.col("event_id").alias("k"), F.col("ts"),
                  (F.col("user_id") % 5).cast("string").alias("g"),
                  F.col("value").cast("double").alias("v"))
    return create_table(spark, df, str(tmp_path / "src"),
                        hash_partitions=["k"], hash_bucket_num=4)


def _mk(spark, tmp_path, name="ru"):
    return R.create_rollup(spark, str(tmp_path / "src"),
                           str(tmp_path / name), time_col="ts",
                           bucket="day", group_cols=["g"],
                           aggs={"v": "max", "k": "count"})


def _want(src):
    return sorted(tuple(r) for r in
                  src.to_df()
                  .groupBy(F.date_trunc("day", "ts").alias("bucket_ts"),
                           "g")
                  .agg(F.max("v").alias("v_max"),
                       F.count("k").alias("k_cnt"),
                       F.count(F.lit(1)).alias("n_rows")).collect())


def _got(spark, t):
    return sorted(tuple(r) for r in
                  R.read_rollup(spark, t)
                  .select("bucket_ts", "g", "v_max", "k_cnt", "n_rows")
                  .collect())


def _retract_maxima(src):
    mx = (src.to_df()
          .groupBy(F.date_trunc("day", "ts").alias("b"), "g")
          .agg(F.max("v").alias("mx")))
    sd = src.to_df()
    hold = (sd.join(mx, (F.date_trunc("day", sd["ts"]) == mx["b"])
                    & (sd["g"] == mx["g"]))
            .filter(F.col("v") == F.col("mx"))
            .select("k", "ts", sd["g"], (F.col("v") - 1e9).alias("v")))
    src.upsert(hold)


def test_rollup_minmax_realtime_and_refresh(spark, src, tmp_path):
    t = _mk(spark, tmp_path)
    assert _got(spark, t) == _want(src)
    _retract_maxima(src)
    # realtime read BEFORE any refresh: read-only rescan, exact
    rt = sorted(tuple(r) for r in
                R.read_rollup_realtime(spark, t)
                .select("bucket_ts", "g", "v_max", "k_cnt", "n_rows")
                .collect())
    assert rt == _want(src)
    # refresh: threatened cells replaced, still an incremental window
    assert R.refresh_rollup(spark, t)["mode"] == "incremental"
    assert _got(spark, t) == _want(src)
    # non-threatening churn folds (no rescan needed for exactness)
    sd = src.to_df()
    src.upsert(sd.limit(40).select("k", "ts", "g",
                                   (F.col("v") * 0 - 5e9).alias("v")))
    assert R.refresh_rollup(spark, t)["mode"] == "incremental"
    assert _got(spark, t) == _want(src)
    assert R.refresh_rollup(spark, t)["mode"] == "noop"


def test_rollup_minmax_replay_exactly_once(spark, src, tmp_path):
    t = _mk(spark, tmp_path)
    _retract_maxima(src)
    cfg_before = (t.info.configuration or {}).get(
        "rollup.last_version")
    assert R.refresh_rollup(spark, t)["mode"] == "incremental"
    state = _got(spark, t)
    # crash simulation: the cursor property save was lost — the txn
    # stamp is authoritative, the replay must be a noop
    t.set_properties({"rollup.last_version": cfg_before})
    assert R.refresh_rollup(spark, t)["mode"] == "noop"
    assert _got(spark, t) == state == _want(src)


def test_rollup_minmax_cap_falls_back_to_full(spark, src, tmp_path,
                                              monkeypatch):
    t = _mk(spark, tmp_path)
    _retract_maxima(src)
    monkeypatch.setattr(R, "RESCAN_CELL_LIMIT", 0)
    assert R.refresh_rollup(spark, t)["mode"] == "full"
    assert _got(spark, t) == _want(src)


def test_stream_rollup_refuses_minmax_hash(spark, src, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="retraction"):
        R.stream_rollup(spark, t)
    # the refusal must not have flipped the streaming latch
    assert R.refresh_rollup(spark, t)["mode"] in ("noop", "incremental")
