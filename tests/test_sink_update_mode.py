"""Update mode of the streaming sink is an upsert.

In StarLake a micro-batch into a hash table is the same delta commit an
upsert makes (StarLakeSink.scala:49-91). These tests pin that
``StarStreamSink`` in update mode behaves like ``dml.upsert`` of the
same batch: in-batch duplicate keys collapse to the last row, the
commit is typed ``delta`` and logged under ``cdf.enabled``, and the
5th delta commit into a partition triggers auto-compaction. A replayed
batch id is still a no-op."""

import os

from starlake_spark.meta import ManifestStore
from starlake_spark.operators import dml
from starlake_spark.streaming.sink import StarStreamSink
from starlake_spark.table import create_table

SCHEMA = "k int, v int, p string"


def _table(spark, path, **conf):
    base = spark.createDataFrame([(1, 10, "a"), (2, 20, "a")], SCHEMA)
    return create_table(spark, base, path, range_partitions=["p"],
                        hash_partitions=["k"], hash_bucket_num=2,
                        configuration=conf or None)


def _batch(spark, i=0):
    # key 100 twice: v=1, then v=2 — the later row must win
    return spark.createDataFrame(
        [(100, 1 + 10 * i, "b"), (101, 5, "b"), (100, 2 + 10 * i, "b"),
         (102 + i, 7, "b")], SCHEMA)


def test_update_batch_is_a_logged_delta_upsert(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"), **{"cdf.enabled": "true"})
    sink = StarStreamSink(ManifestStore(t.store.table_path), "q1", "update")
    assert sink.write_batch(_batch(spark), 0)
    got = sorted((r.k, r.v) for r in t.to_df().filter("p = 'b'").collect())
    assert got == [(100, 2), (101, 5), (102, 7)]
    snap = t.store.snapshot()
    assert snap.commit_type == "delta"
    assert snap.streaming["q1"] == 0
    assert os.path.isdir(os.path.join(t.store.table_path, dml.CDC_DIR,
                                      str(snap.version)))
    # a replayed batch id commits nothing
    v = t.store.latest_version()
    assert not sink.write_batch(_batch(spark, 1), 0)
    assert t.store.latest_version() == v
    assert sink.last_batch_id() == 0


def test_update_batches_auto_compact_like_upsert(spark, tmp_path):
    ts = _table(spark, str(tmp_path / "sink"))
    tu = _table(spark, str(tmp_path / "upsert"))
    sink = StarStreamSink(ts.store, "q", "update")
    for i in range(dml.DELTA_FILE_COMPACT_TRIGGER):
        assert sink.write_batch(_batch(spark, i), i)
        tu.upsert(_batch(spark, i))
    for t in (ts, tu):
        ps = t.store.snapshot().partitions["p=b"]
        assert ps.delta_file_num == 0 and ps.files
    assert sorted(map(tuple, ts.to_df().collect())) == \
        sorted(map(tuple, tu.to_df().collect()))
    assert ts.store.snapshot().streaming["q"] == \
        dml.DELTA_FILE_COMPACT_TRIGGER - 1
