"""Structured-streaming sink with exactly-once micro-batch commits.

Reference parity: sources/StarLakeSink.scala:30-96 + the per-(table,
query) batch registry of meta/StreamingRecord.scala:22-114. The
idiomatic Spark translation (SURVEY §2.7) is ``writeStream.foreachBatch``
with an idempotent batch check:

* a batch is skipped iff ``batch_id <= last committed batch_id`` for
  this (table, query_id) — replays after failure are no-ops
  (StarLakeSink.scala:60-63);
* the batch registry update rides **inside the same manifest commit**
  as the data files, so data+progress are atomic exactly like the
  reference's undo-log carrying query_id/batch_id
  (TransactionCommit.scala:372-377);
* output modes (StarLakeSink.scala:38-47,66-85): append = plain append,
  complete = overwrite, update = hash-partitioned tables only (an
  append into a hash table is an update).
* update mode has upsert semantics — it is the ``delta`` commit of
  ``dml.upsert`` ("hash table ⇒ delta commit type",
  StarLakeSink.scala:49-91): duplicate keys inside one batch collapse
  to the last row in input order, ``cdf.enabled`` tables get the
  commit's CDC log, and auto-compaction runs after the commit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from starlake_spark.local import local_df
from starlake_spark.meta import DuplicateTxnError, ManifestStore
from starlake_spark.operators import dml, writer


class StarStreamSink:
    def __init__(self, store: ManifestStore, query_id: str, output_mode: str = "append"):
        info = store.table_info()
        if output_mode == "update" and not info.hash_cols:
            raise ValueError("update mode requires hash partitions "
                             "(StarLakeDataSource.scala:68-72)")
        if output_mode == "append" and info.hash_cols:
            # hash tables dedup by key → every batch is a delta upsert
            output_mode = "update"
        self.store = store
        self.query_id = query_id
        self.output_mode = output_mode

    def last_batch_id(self) -> int:
        return self.store.snapshot().streaming.get(self.query_id, -1)

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Idempotent micro-batch write; returns False if skipped."""
        spark = batch_df.sparkSession
        if self.output_mode == "update":
            # the delta commit of dml.upsert, gated on this query's
            # registry entry instead of a txn:<app> key
            return dml._upsert_delta(spark, self.store, batch_df,
                                     self.query_id, batch_id)
        if batch_id <= self.last_batch_id():
            return False
        info = dml.maybe_merge_schema(batch_df, self.store)
        txn = self.store.new_transaction()
        is_base = self.output_mode == "complete"
        files = writer.write_files(spark, batch_df, info, txn,
                                   is_base=is_base)
        if self.output_mode == "complete":
            for rv in txn.read_snapshot.partitions:
                txn.expire_partition(rv)
        txn.add_files(files)
        txn.set_streaming_batch(self.query_id, batch_id)
        try:
            self.store.commit(txn)
        except DuplicateTxnError:
            # a concurrent retry of the same batch won the lock first —
            # its commit IS this batch; files written here are orphans
            # that cleanup() collects
            return False
        return True

    def foreach_batch(self):
        """Callable for df.writeStream.foreachBatch(...)."""
        return lambda batch_df, batch_id: self.write_batch(batch_df, batch_id)


def write_stream(
    stream_df: DataFrame,
    table_path: str,
    query_id: str,
    output_mode: str = "append",
    trigger_available_now: bool = True,
    checkpoint_dir: str | None = None,
    spark_output_mode: str | None = None,
):
    """Start a streaming write into a star table; returns the query.

    ``trigger_available_now=True`` drains all available input then
    stops — the batch-pipeline-over-streaming-API pattern.
    ``spark_output_mode`` is Spark's upstream mode for stateful
    operators (e.g. "update" so a windowed agg emits per-batch updates
    that our sink then upserts by key); ``output_mode`` is the SINK's
    commit mode (append / complete / update)."""
    sink = StarStreamSink(ManifestStore(table_path), query_id, output_mode)
    w = stream_df.writeStream.foreachBatch(sink.foreach_batch())
    if spark_output_mode:
        w = w.outputMode(spark_output_mode)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


class DedupIngestSink(StarStreamSink):
    """Dedup-on-ingest: each micro-batch is (1) exact-deduped within
    itself, (2) near-dedup'd AGAINST the corpus via a PERSISTED
    banded-MinHash index, then (3) upserted exactly-once. The standard
    continuous-crawl shape: the corpus only ever grows by novel
    documents, and re-delivered or re-crawled near-duplicates never
    land.

    The index is a companion star table ``<table>_bandidx`` of
    (id, band, bh, sig) rows (functions.dedup.minhash_band_sig): band
    rows drive the LSH candidate equi-join, signature sentinels drive
    verification via the MinHash agreement estimator — so on wave >= 2
    the corpus TEXT column is never re-read; per-batch work is
    O(batch + previous wave), not O(corpus). The index is derived
    state, synced by version catch-up: its registry records the last
    corpus version whose docs are banded, and each batch first bands
    exactly the rows committed since (read through the CDF, so a
    crashed-between-commits sink self-heals on the next batch)."""

    IDX_REGISTRY_KEY = "_bandidx_src"

    def __init__(self, store: ManifestStore, query_id: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 threshold: float = 0.8, num_hashes: int = 64,
                 bands: int = 16, shingle_n: int = 3,
                 index_path: str | None = None):
        super().__init__(store, query_id, output_mode="update")
        self.id_col, self.text_col = id_col, text_col
        self.threshold, self.num_hashes = threshold, num_hashes
        self.bands, self.shingle_n = bands, shingle_n
        # default: nested inside the table dir — shares the table's
        # lifecycle (drop_table removes it) and is invisible to the
        # corpus scan (manifest-listed files only) and to cleanup()
        # (which walks <table>/data only)
        self.index_path = index_path or os.path.join(
            store.table_path, "_bandidx")

    def _index_store(self, spark) -> ManifestStore:
        import os

        from pyspark.sql import types as T

        from starlake_spark.table import create_table

        if not os.path.isdir(os.path.join(self.index_path, "_star_meta")):
            id_type = next(f.dataType for f in self._corpus_schema(spark).fields
                           if f.name == self.id_col)
            empty = local_df(spark, [], T.StructType([
                T.StructField(self.id_col, id_type, True),
                T.StructField("band", T.IntegerType(), True),
                T.StructField("bh", T.LongType(), True),
                T.StructField("sig", T.ArrayType(T.LongType()), True),
            ]))
            try:
                create_table(spark, empty, self.index_path)
            except Exception:
                # a concurrent sink won the create race — reuse its table
                if not os.path.isdir(os.path.join(self.index_path,
                                                  "_star_meta")):
                    raise
        return ManifestStore(self.index_path)

    def _corpus_schema(self, spark):
        import json as _json

        from pyspark.sql import types as T

        return T.StructType.fromJson(
            _json.loads(self.store.table_info(refresh=True).schema_json))

    def _sync_index(self, spark, precomputed: DataFrame | None = None,
                    expect_synced: int | None = None) -> ManifestStore:
        """Band+sign every corpus row committed since the last sync —
        idempotent catch-up keyed on the corpus version, O(new wave).

        ``precomputed``: band/sig rows already in memory for the rows
        of the range being synced (the just-landed wave) — skips the
        re-read + re-shingle of the wave; only taken when
        ``expect_synced`` confirms our commit is the sole missing range
        (otherwise full catch-up runs, e.g. after a crash or a
        concurrent writer)."""
        from starlake_spark.functions import dedup as dd
        from starlake_spark.sources.datasource import table_changes

        idx_store = self._index_store(spark)
        synced = idx_store.snapshot().streaming.get(self.IDX_REGISTRY_KEY, 0)
        cur = self.store.latest_version()
        if cur <= synced:
            return idx_store
        if precomputed is not None and expect_synced == synced \
                and cur == synced + 1:
            rows = precomputed
        else:
            # skip the Spark work entirely when the missing range holds
            # no data files (registry-only commits, skipped batches)
            has_files = any(
                f.write_version == v
                for v in range(synced + 1, cur + 1)
                for f in self.store.snapshot(v).all_files())
            rows = None
            if has_files:
                fresh = table_changes(
                    spark, self.store.table_path, start_version=synced,
                    end_version=cur, ignore_deletes=True,
                ).select(self.id_col, self.text_col).filter(
                    F.col(self.text_col).isNotNull())
                rows = dd.minhash_band_sig(
                    fresh, self.id_col, self.text_col,
                    self.num_hashes, self.bands, self.shingle_n)
        txn = idx_store.new_transaction()
        files = []
        if rows is not None:
            info = dml.maybe_merge_schema(rows, idx_store)
            files = writer.write_files(spark, rows, info, txn, is_base=True)
        txn.add_files(files)
        txn.set_streaming_batch(self.IDX_REGISTRY_KEY, cur)
        try:
            idx_store.commit(txn)
        except DuplicateTxnError:
            pass  # a concurrent sync already covered this range
        return idx_store

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> bool:
        from starlake_spark.functions import dedup as dd
        from starlake_spark.operators import reader

        if batch_id <= self.last_batch_id():
            return False
        spark = batch_df.sparkSession
        # within-batch exact dedup first (cheap, shrinks the band join)
        batch = dd.dedup_exact_text(batch_df, self.text_col, self.id_col)
        idx_store = self._sync_index(spark)
        synced_now = idx_store.snapshot().streaming.get(self.IDX_REGISTRY_KEY, 0)
        index_df = reader.scan(spark, idx_store)
        band_sig = dd.minhash_band_sig(
            batch, self.id_col, self.text_col,
            self.num_hashes, self.bands, self.shingle_n
        ).localCheckpoint(eager=True)  # shingle the batch exactly once
        batch = dd.minhash_dedup_against_index(
            batch, index_df, self.id_col, self.text_col,
            threshold=self.threshold, num_hashes=self.num_hashes,
            bands=self.bands, shingle_n=self.shingle_n,
            new_band_sig=band_sig)
        batch = batch.localCheckpoint(eager=True)  # one plan, two uses below
        landed = super().write_batch(batch, batch_id)
        if landed:
            # keep the index warm for the next wave, reusing the batch's
            # own band rows (kept docs only) — crash-safe: the next
            # batch's catch-up covers it if this never runs
            kept = band_sig.join(
                batch.select(self.id_col), self.id_col, "left_semi")
            self._sync_index(spark, precomputed=kept,
                             expect_synced=synced_now)
        return landed
