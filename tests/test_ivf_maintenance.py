"""Incremental IVF index maintenance (Engine.extend_ivf /
ivf_index_stats): the frozen-centroid append must be EQUIVALENT to a
one-shot probe of the grown corpus against the same frozen matrix,
the bucketed layout must survive appends (exchange-free candidate
self-join), and the rebuild-only two-level path must fail typed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from data_ingestion_challenge_spark.api import Engine


@pytest.fixture()
def split_engine(spark, cat, tmp_path):
    """An Engine over the FIRST 400 of the 500 sf0.001 vectors (the
    pre-growth corpus snapshot), plus the two held-out drops."""
    base_dir = tmp_path / "sf_base"
    base_dir.mkdir()
    emb = cat.embeddings
    emb.where(F.col("vec_id") < 400).write.parquet(
        str(base_dir / "embeddings.parquet"))
    eng = Engine(str(base_dir), spark=spark)
    drop1 = emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    drop2 = emb.where(F.col("vec_id") >= 450)
    return eng, drop1, drop2


def _assignment_set(df):
    return {(r["vec_id"], r["_cell"]) for r in
            df.select("vec_id", "_cell").collect()}


def test_extend_ivf_equals_oneshot_probe(spark, cat, split_engine,
                                         tmp_path):
    """Index built on 400 vectors + two extend_ivf drops == one-shot
    probe of all 500 against the SAME frozen centroids — the append
    path must land every new vector in the identical Voronoi cells
    (one consistent geometry however the corpus grows)."""
    import numpy as np

    from data_ingestion_challenge_spark.operators.similarity import (
        probe_against_matrix,
    )
    eng, drop1, drop2 = split_engine
    table, path = "test_ivf_ext", str(tmp_path / "ivf_ext")
    try:
        eng.materialize_ivf(table, path)
        before = spark.table(table).count()
        eng.extend_ivf(drop1, table, path)
        eng.extend_ivf(drop2, table, path)
        with open(os.path.join(path, "_ivf_meta.json")) as f:
            meta = json.load(f)
        C = np.asarray(meta["centroids"], dtype=np.float64)
        expect = probe_against_matrix(
            cat.embeddings, C, np.linalg.norm(C, axis=1),
            meta["nprobe"])
        got = spark.table(table)
        assert _assignment_set(got) == _assignment_set(expect)
        # every drop actually appended (nprobe assignments per vector)
        assert got.count() == before + 100 * meta["nprobe"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_extend_ivf_keeps_join_exchange_free(spark, split_engine,
                                             tmp_path):
    """After appends the table's bucket spec still drives the
    candidate self-join: no hash exchange on _cell in the physical
    plan, and the keep-list verdict off the extended table equals the
    verdict off a fresh one-shot rebuild over the SAME frozen
    centroids (recall of the maintained index is not silently
    degraded by the append path)."""
    from data_ingestion_challenge_spark.operators import similarity as S
    eng, drop1, drop2 = split_engine
    table, path = "test_ivf_ext2", str(tmp_path / "ivf_ext2")
    try:
        eng.materialize_ivf(table, path)
        eng.extend_ivf(drop1.unionByName(drop2), table, path)
        asg = spark.table(table)
        plan = (S.ivf_candidate_pairs(None, tau=0.4, assignments=asg)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning(_cell" not in plan
        pairs = {tuple(r) for r in
                 S.ivf_candidate_pairs(None, tau=0.4,
                                       assignments=asg).collect()}
        assert pairs  # sf0.001 embeddings carry planted near-dups
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_extend_ivf_two_level_raises_typed(spark, split_engine,
                                           tmp_path):
    """two_level indexes freeze no flat centroid matrix: extend_ivf
    must raise ValueError naming the rebuild path — never a bare
    FileNotFoundError from a missing meta file."""
    eng, drop1, _ = split_engine
    table, path = "test_ivf_2l", str(tmp_path / "ivf_2l")
    try:
        eng.materialize_ivf(table, path, two_level=True)
        assert os.path.exists(os.path.join(path, "_ivf_meta.json"))
        with pytest.raises(ValueError, match="rebuild-only"):
            eng.extend_ivf(drop1, table, path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_extend_ivf_missing_meta_raises_typed(spark, split_engine,
                                              tmp_path):
    """A path that was never written by materialize_ivf is a typed
    refusal, not FileNotFoundError."""
    eng, drop1, _ = split_engine
    with pytest.raises(ValueError, match="_ivf_meta.json"):
        eng.extend_ivf(drop1, "whatever", str(tmp_path / "nope"))


def test_table_bucket_count_unbucketed_raises(spark, cat, tmp_path):
    """extend_ivf's bucket-spec lookup fails LOUDLY on an unbucketed
    table — an unbucketed append would silently break the
    exchange-free candidate self-join contract."""
    eng = Engine(SF_DIR, spark=spark)
    table = "test_unbucketed_tbl"
    try:
        (cat.embeddings.limit(5).write.mode("overwrite")
         .option("path", str(tmp_path / "flat"))
         .saveAsTable(table))
        with pytest.raises(ValueError, match="not a bucketed table"):
            eng._table_bucket_count(table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf_index_stats_tracks_occupancy(spark, split_engine,
                                          tmp_path):
    """ivf_index_stats: n_assignments equals the table row count and
    grows by |drop|·nprobe per append; occupancy aggregates are
    consistent (mean ≤ p99 ≤ max)."""
    eng, drop1, drop2 = split_engine
    table, path = "test_ivf_stats", str(tmp_path / "ivf_stats")
    try:
        eng.materialize_ivf(table, path)
        s0 = eng.ivf_index_stats(table).collect()[0]
        eng.extend_ivf(drop1, table, path)
        eng.extend_ivf(drop2, table, path)
        s1 = eng.ivf_index_stats(table).collect()[0]
        with open(os.path.join(path, "_ivf_meta.json")) as f:
            nprobe = json.load(f)["nprobe"]
        assert s1["n_assignments"] == s0["n_assignments"] + 100 * nprobe
        assert s1["n_assignments"] == spark.table(table).count()
        assert (s1["mean_occupancy"] <= s1["p99_occupancy"]
                <= s1["max_occupancy"])
        # growth signal: occupancy rose with the corpus
        assert s1["mean_occupancy"] > s0["mean_occupancy"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ingest_documents_maintains_ivf_index(spark, cat, split_engine,
                                              tmp_path):
    """The full admission->index composition (Engine.ingest_documents
    with vectors_path/ivf_table/ivf_path): after a drain, the index
    holds exactly the ADMITTED docs' vectors, probed against the
    frozen centroids; a rejected in-batch duplicate's vector is never
    indexed; a re-call with nothing new to drain extends nothing."""
    import numpy as np

    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.similarity import (
        probe_against_matrix,
    )
    eng, _, _ = split_engine
    table, path = "test_ivf_ingest", str(tmp_path / "ivf_ingest")
    d = {k: str(tmp_path / k) for k in
         ("watch", "corpus", "postings", "log", "sizes", "ckpt")}
    # 21-doc drop: 20 unique texts + doc 420 an exact copy of doc
    # 400's text (in-batch dup, larger id -> rejected).
    docs = [(400 + i,
             f"unique admission document number {i} " * 3, "en", "t")
            for i in range(20)]
    docs.append((420, docs[0][1], "en", "t"))
    (spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string")
     .coalesce(1).write.mode("overwrite").json(d["watch"]))
    # Vector service output for the same drop: vec_id == doc_id.
    vecs_path = str(tmp_path / "vectors.parquet")
    (cat.embeddings.where((F.col("vec_id") >= 400)
                          & (F.col("vec_id") <= 420))
     .select("vec_id", "embedding")
     .write.mode("overwrite").parquet(vecs_path))
    try:
        eng.materialize_ivf(table, path)
        before = spark.table(table).count()
        corpus = eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], vectors_path=vecs_path,
            ivf_table=table, ivf_path=path)
        admitted = {r[0] for r in
                    corpus.read().select("doc_id").collect()}
        assert admitted == set(range(400, 420))  # 420 rejected
        with open(os.path.join(path, "_ivf_meta.json")) as f:
            meta = json.load(f)
        got = (spark.table(table)
               .where(F.col("vec_id") >= 400))
        assert {r[0] for r in
                got.select("vec_id").distinct().collect()} == admitted
        # Cells match a one-shot probe of the same vectors against
        # the frozen matrix (one consistent Voronoi geometry).
        C = np.asarray(meta["centroids"], dtype=np.float64)
        expect = probe_against_matrix(
            spark.read.parquet(vecs_path)
            .where(F.col("vec_id") < 420),
            C, np.linalg.norm(C, axis=1), meta["nprobe"])
        assert _assignment_set(got) == _assignment_set(expect)
        # Idempotence: nothing new to drain -> nothing appended.
        n1 = spark.table(table).count()
        assert n1 == before + 20 * meta["nprobe"]
        eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], vectors_path=vecs_path,
            ivf_table=table, ivf_path=path)
        assert spark.table(table).count() == n1
        # Misuse is typed: vectors without an index target.
        with pytest.raises(ValueError, match="ivf_table"):
            eng.ingest_documents(
                d["watch"], d["corpus"], d["postings"], d["log"],
                d["ckpt"], sizes_dir=d["sizes"], vectors_path=vecs_path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
