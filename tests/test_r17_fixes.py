"""Round-17 correctness fixes (r16 ADVICE), pinned:

1. Shard-prune partition-type inference (high): a sharded store whose
   ``s_shard`` dir values are ALL numeric-like (no ``__global__`` dir
   yet — every doc carries a representable shard) used to infer the
   partition column as int on the screen's corpus read;
   ``isin('__global__', ...)`` then threw CAST_INVALID_INPUT under
   Spark 4's ANSI mode, failing every micro-batch, and a leading-zero
   value ('0123') read back as 123 so its postings never matched the
   batch's string shard set (true dups admitted silently).  Store
   reads now carry an explicit schema (admission._read_store) typing
   every partition column from the layout contract.
2. store_bucket_mod stamp race (medium): the fresh-store meta stamp
   used to os.replace the whole meta dict outside the stamp lock — a
   concurrent _resolve_shard pin of shard_col could be erased.  The
   stamp now merge-updates under the same lock.
3. sweep_cross_shard_dups on a run-less store (low): a sharded store
   pinned in meta but with zero committed runs made the bare parquet
   read raise 'unable to infer schema'; it now returns an empty,
   correctly-typed frame.
"""

from __future__ import annotations

import json
import os

import pytest

import data_ingestion_challenge_spark.streaming.admission as adm
from data_ingestion_challenge_spark.streaming.admission import (
    GLOBAL_SHARD, SHARD_COL, document_admission_sink,
    sweep_cross_shard_dups,
)

LONG_A = ("the quick brown fox jumps over the lazy dog while the "
          "moon rises slowly over the quiet hills tonight")
LONG_A_NEAR = ("the quick brown fox jumps over the lazy dog while the "
               "moon rises slowly over the quiet hills today")
NOVEL = ("completely unrelated content about distributed query "
         "engines shuffling partitioned columnar data at scale")


def _batch(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s) for i, t, s in rows], adm.DOCS_SCHEMA)


def _dirs(tmp_path, name):
    return {k: str(tmp_path / name / k)
            for k in ("table", "postings", "log", "sizes")}


def test_all_numeric_shard_values_screen_and_roundtrip(spark,
                                                       tmp_path):
    """The ADVICE #1 geometry exactly: every shard value numeric-like
    (incl. a leading zero), NO global dir.  The second batch's screen
    must not throw, must prune to the string dirs as written, and
    must catch the cross-batch near-dup living under s_shard=0123."""
    dirs = _dirs(tmp_path, "numeric")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], shard_col="source")
    admit(_batch(spark, [(1, LONG_A, "0123"),
                         (2, NOVEL, "20240101")]), 0)
    run = os.path.join(dirs["postings"], "ingest_batch=0")
    # r18 increment layout: one __mixed__ level, true (leading-zero)
    # shard values in the doc_shard data column — parquet data
    # round-trips them exactly, no dir escaping in play at all.
    assert sorted(e.name for e in os.scandir(run)
                  if e.name.startswith("s_shard=")) == [
        f"s_shard={adm.MIXED_SHARD}"]
    assert sorted(str(r[0]) for r in spark.read.parquet(run)
                  .select(adm.DOC_SHARD).distinct().collect()) == [
        "0123", "20240101"]
    # Second batch, same numeric-like shard: the near-dup must be
    # flagged against doc 1 (prune kept s_shard=0123 visible).
    admit(_batch(spark, [(3, LONG_A_NEAR, "0123")]), 1)
    log = (spark.read.option("basePath", dirs["log"])
           .parquet(dirs["log"]))
    row = log.where("doc_id = 3").collect()[0]
    assert row.kept is False and row.dup_of == 1
    assert sorted(r.doc_id for r in table.read().collect()) == [1, 2]


def test_leading_zero_shard_not_mangled_by_fold(spark, tmp_path):
    """A fold of an all-numeric-shard store must rewrite the base with
    the EXACT dir values ('0123', not '123')."""
    dirs = _dirs(tmp_path, "fold")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], shard_col="source")
    admit(_batch(spark, [(1, LONG_A, "0123")]), 0)
    admit(_batch(spark, [(2, NOVEL, "007")]), 1)
    adm.compact_store_in_place(spark, dirs["postings"], table,
                               sizes_dir=dirs["sizes"], level="major")
    base = os.path.join(dirs["postings"], "ingest_batch=-1")
    assert sorted(e.name for e in os.scandir(base)
                  if e.name.startswith("s_shard=")) == [
        "s_shard=007", "s_shard=0123"]
    # And the post-fold screen still matches through the base run.
    admit(_batch(spark, [(3, LONG_A_NEAR, "0123")]), 2)
    assert sorted(r.doc_id for r in table.read().collect()) == [1, 2]


def test_store_bucket_mod_stamp_preserves_shard_pin(tmp_path):
    """ADVICE #2's race, collapsed to its intermediate state: the meta
    exists with ONLY a shard_col pin (another builder wrote it between
    our missing-meta read and our stamp).  The stamp must merge, not
    replace."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    meta = os.path.join(store, adm._META)
    with open(meta, "w") as fh:
        json.dump({"shard_col": "source"}, fh)
    mod = adm.store_bucket_mod(store)
    assert mod == adm.N_SHINGLE_BUCKETS
    with open(meta) as fh:
        stamped = json.load(fh)
    assert stamped == {"shard_col": "source",
                       "s_bucket_mod": adm.N_SHINGLE_BUCKETS}


def test_sweep_on_runless_sharded_store_returns_empty(spark,
                                                      tmp_path):
    """ADVICE #3: a sharded-pinned store with zero committed runs must
    sweep to an empty frame, not raise 'unable to infer schema'."""
    store = str(tmp_path / "runless")
    os.makedirs(store)
    with open(os.path.join(store, adm._META), "w") as fh:
        json.dump({"s_bucket_mod": 64, "shard_col": "source"}, fh)
    out = sweep_cross_shard_dups(spark, store)
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b", "jaccard",
                           "shards_a", "shards_b"]


def test_sweep_reports_exact_shard_strings(spark, tmp_path):
    """The sweep's shard sets must carry the written dir values
    verbatim — '0123' stays '0123' (inference would report '123')."""
    dirs = _dirs(tmp_path, "sweepnum")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], shard_col="source")
    # The residual geometry: a near-dup pair split across two
    # numeric-like shards (no shared shard, neither global).
    admit(_batch(spark, [(1, LONG_A, "0123")]), 0)
    admit(_batch(spark, [(2, LONG_A_NEAR, "0456")]), 1)
    rows = sweep_cross_shard_dups(
        spark, dirs["postings"], table_path=dirs["table"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.shards_a == ["0123"] and r.shards_b == ["0456"]


def test_sidecar_fetch_partitions_sizing():
    """The r17 sidecar-build fix (admission_compact_s 10.8 -> 3.5 s):
    the driver-stream fetch partitioning derives from footer-estimated
    bitmap bytes -- a bench-sized store streams as ONE fetch (the r16
    constant 2x buckets cost ~128 serial round trips), a huge store
    keeps the bounded-residency spreading."""
    from data_ingestion_challenge_spark.streaming.sidecar import (
        MAX_KEYS_PER_BLOOM, _fetch_partitions)

    # Bench geometry: 64 buckets x ~40k rows -> ~20 MB est -> 1 fetch.
    small = {b: 40_000 for b in range(64)}
    assert _fetch_partitions(small, []) == 1
    # Right-sized 100 TB geometry: every bucket near the key cap ->
    # est ~ 64 x 512 MB -> far above one fetch, capped at 2 x under.
    big = {b: MAX_KEYS_PER_BLOOM for b in range(64)}
    assert _fetch_partitions(big, []) == 128
    # Over-cap buckets are excluded from the estimate AND the count.
    mixed = {b: 40_000 for b in range(8)}
    mixed.update({b: 2 * MAX_KEYS_PER_BLOOM for b in range(8, 12)})
    assert _fetch_partitions(mixed, [8, 9, 10, 11]) == 1
    # Never zero, even for a store whose buckets are ALL over-cap.
    assert _fetch_partitions({0: 2 * MAX_KEYS_PER_BLOOM}, [0]) == 1
    # r17 advice: the per-partition target is 128 MB (not 256) because
    # prefetchPartitions holds ~2 partitions in flight -- an estimate
    # between the two targets must now split into 2 fetches so the
    # ~256 MB driver-residency bound is a bound, not an expectation.
    between = {b: 66_000 for b in range(64)}   # est ~ 34 MB, x4 oversample
    assert _fetch_partitions(between, []) == 2
