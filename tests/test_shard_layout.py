"""Shard-key posting layout (screen lever #1, docs/SCREEN_SCALING.md
— r14 verdict task 8, design spike): an ADDITIVE outer partition
level `shard=<k>/s_bucket=<b>` written through the one layout
contract every posting writer rides.  The two-shard toy pins (1) the
physical layout, (2) that shard pruning composes with bucket pruning
in PartitionFilters, and (3) the equivalence that makes the lever
sound: when a batch's corpus overlap is confined to its shard(s),
the shard-pruned screen returns EXACTLY the full screen's pairs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import data_ingestion_challenge_spark.streaming.admission as adm


def _post(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, s string, "
                                       "shard string")


@pytest.fixture()
def store(spark, tmp_path):
    """Two-shard toy corpus: shard A holds docs 1/2, shard B docs
    3/4; shingle vocabularies overlap the batch only through A."""
    rows = ([(1, f"a{i}", "A") for i in range(40)]
            + [(2, f"a{i}", "A") for i in range(20, 60)]
            + [(3, f"b{i}", "B") for i in range(40)]
            + [(4, f"b{i}", "B") for i in range(20, 60)])
    dst = str(tmp_path / "postings" / "ingest_batch=-1")
    adm._write_postings_layout(_post(spark, rows), dst, mod=8,
                               shard_col="shard")
    return dst


def test_layout_shard_then_bucket(spark, store):
    shards = sorted(e.name for e in os.scandir(store)
                    if e.name.startswith("shard="))
    assert shards == ["shard=A", "shard=B"]
    inner = sorted(e.name for e in os.scandir(
        os.path.join(store, "shard=A")))
    assert inner and all(n.startswith("s_bucket=") for n in inner)


def test_shard_prune_composes_with_bucket_prune(spark, store):
    df = spark.read.parquet(store)
    got = (df.where((F.col("shard") == "A")
                    & F.col("s_bucket").isin([0, 1]))
           ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in got
    # both partition columns reach the scan's partition filters, so
    # the read lists only shard=A's matching bucket dirs
    rows = df.where(F.col("shard") == "A").select("doc_id").distinct()
    assert {r[0] for r in rows.collect()} == {1, 2}


def test_shard_pruned_screen_equals_full_screen(spark, store):
    """The lever's soundness condition on its intended regime: a
    batch whose corpus overlap lives entirely in its own shard gets
    IDENTICAL pairs from the shard-pruned corpus and the full one.
    (Cross-shard mirrors are the documented residual — a deployment
    keeps a small global shard for them; out of spike scope.)"""
    corpus = spark.read.parquet(store).select("doc_id", "s", "shard")
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n"))
    # batch doc 100 shares 30 of shard A's shingles → J vs doc 1 =
    # 30/(40+40-30) = 0.6; no shingle touches shard B
    batch_post = _post(spark, [(100, f"a{i}", "A")
                               for i in range(30)]
                       + [(100, f"q{i}", "A") for i in range(10)]) \
        .select("doc_id", "s")
    batch_sizes = batch_post.groupBy("doc_id").agg(
        F.count("*").alias("n"))

    def _pairs(cp):
        caches = []
        try:
            out = adm._screen_pairs(batch_post, batch_sizes,
                                    cp.select("doc_id", "s"),
                                    sizes, tau=0.5, caches=caches)
            return sorted((r.doc_id, r.corpus_doc_id, r.jaccard)
                          for r in out.collect())
        finally:
            for h in caches:
                h.unpersist()

    # The cache manager is session-wide: drop what earlier tests left
    # so the check below sees only what the screen leaves behind.
    spark.catalog.clearCache()
    full = _pairs(corpus)
    pruned = _pairs(corpus.where(F.col("shard") == "A"))
    assert full == pruned
    assert full, "toy must actually produce a corpus match"
    # every frame the screen persisted went back through `caches`
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
