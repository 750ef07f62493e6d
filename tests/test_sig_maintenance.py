"""Incremental MinHash signature maintenance (Engine.extend_signatures
— the text-side twin of extend_ivf): increments must be value-IDENTICAL
to a one-shot rebuild over the grown corpus (signatures are per-doc
functions, no frozen model to drift), the bucketed layout must survive
appends, non-signature tables must fail typed, and the
ingest_documents wiring must maintain the table idempotently across
re-drains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_challenge_spark.api import Engine
from tests.conftest import SF_DIR


@pytest.fixture()
def split_engine(spark, cat, tmp_path):
    """An Engine over the first 400 of the 500 sf0.001 docs (the
    pre-growth snapshot), plus two held-out doc drops."""
    base_dir = tmp_path / "sf_base"
    base_dir.mkdir()
    docs = cat.documents
    docs.where(F.col("doc_id") < 400).write.parquet(
        str(base_dir / "documents.parquet"))
    eng = Engine(str(base_dir), spark=spark)
    drop1 = docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    drop2 = docs.where(F.col("doc_id") >= 450)
    return eng, drop1, drop2


def _sigs(df):
    return {tuple(r) for r in df.collect()}


def test_extend_signatures_equals_oneshot_rebuild(spark, cat,
                                                  split_engine,
                                                  tmp_path):
    """Base build on 400 docs + two extends == one-shot signatures of
    all 500 docs, column for column — the append path computes the
    exact same k-min sketch the rebuild would."""
    from data_ingestion_challenge_spark.operators.dedup import (
        _postings, build_signatures,
    )
    eng, drop1, drop2 = split_engine
    pt, st = "test_sig_post", "test_sig_tbl"
    try:
        eng.materialize_postings(pt, str(tmp_path / "post"))
        eng.materialize_signatures(pt, st, str(tmp_path / "sig"), k=16)
        eng.extend_signatures(drop1.select("doc_id", "text"), st,
                              str(tmp_path / "sig"))
        eng.extend_signatures(drop2.select("doc_id", "text"), st,
                              str(tmp_path / "sig"))
        want = build_signatures(_postings(cat.documents, 3), k=16)
        assert _sigs(spark.table(st)) == _sigs(want)
    finally:
        for t in (pt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_extend_signatures_keeps_bucketed_layout(spark, split_engine,
                                                 tmp_path):
    """Appends carry the table's bucket spec: the per-doc groupBy the
    banding/audit reads run stays exchange-free over the extended
    table, and the LSH pair set off the maintained table equals the
    pair set off a rebuilt signature frame."""
    from data_ingestion_challenge_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    eng, drop1, drop2 = split_engine
    pt, st = "test_sig_post2", "test_sig_tbl2"
    try:
        eng.materialize_postings(pt, str(tmp_path / "post"))
        eng.materialize_signatures(pt, st, str(tmp_path / "sig"), k=16)
        eng.extend_signatures(
            drop1.unionByName(drop2).select("doc_id", "text"), st,
            str(tmp_path / "sig"))
        plan = (spark.table(st).groupBy("doc_id").count()
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning(doc_id" not in plan
        # end to end: the maintained table feeds the LSH pair join
        # identically to a fresh in-session signature build.  The
        # posting side covers the full 500 docs for the exact verify.
        docs = drop1.sparkSession.read.parquet(f"{SF_DIR}/documents.parquet")
        got = {tuple(sorted((r.doc_a, r.doc_b))) for r in
               minhash_lsh_pairs(docs, n=3, k=16, bands=8, tau=0.8,
                                 sig=spark.table(st)).collect()}
        want = {tuple(sorted((r.doc_a, r.doc_b))) for r in
                minhash_lsh_pairs(docs, n=3, k=16, bands=8,
                                  tau=0.8).collect()}
        assert got == want and got
    finally:
        for t in (pt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_extend_signatures_non_sig_table_raises_typed(spark, cat,
                                                      split_engine,
                                                      tmp_path):
    """A table without the (doc_id, m0..mk-1) shape is a typed
    refusal BEFORE any write — never a half-appended table."""
    eng, drop1, _ = split_engine
    table = "test_not_a_sig"
    try:
        (cat.documents.limit(5).write.mode("overwrite")
         .option("path", str(tmp_path / "flat"))
         .saveAsTable(table))
        with pytest.raises(ValueError, match="not a signature table"):
            eng.extend_signatures(drop1.select("doc_id", "text"),
                                  table, str(tmp_path / "flat"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ingest_documents_maintains_signatures(spark, split_engine,
                                               tmp_path):
    """Full admission→signature composition: after a drain the table
    holds signatures for exactly the ADMITTED docs (a rejected
    in-batch dup gets no row), and a re-drain with nothing new
    extends nothing (anti-join idempotence)."""
    eng, _, _ = split_engine
    pt, st = "test_sig_post3", "test_sig_tbl3"
    d = {k: str(tmp_path / k) for k in
         ("watch", "corpus", "postings", "log", "sizes", "ckpt")}
    docs = [(400 + i,
             f"signature admission document number {i} " * 3, "en",
             "t") for i in range(20)]
    docs.append((420, docs[0][1], "en", "t"))  # in-batch dup: rejected
    (spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string")
     .coalesce(1).write.mode("overwrite").json(d["watch"]))
    try:
        eng.materialize_postings(pt, str(tmp_path / "post"))
        eng.materialize_signatures(pt, st, str(tmp_path / "sig"), k=16)
        before = spark.table(st).count()
        corpus = eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"],
            sig_table=st, sig_path=str(tmp_path / "sig"))
        admitted = {r.doc_id for r in
                    corpus.read().select("doc_id").collect()}
        assert 420 not in admitted and len(admitted) == 20
        signed = {r.doc_id for r in
                  spark.table(st).select("doc_id").collect()}
        assert admitted <= signed
        assert spark.table(st).count() == before + len(admitted)
        # re-drain: nothing new, nothing appended
        eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"],
            sig_table=st, sig_path=str(tmp_path / "sig"))
        assert spark.table(st).count() == before + len(admitted)
    finally:
        for t in (pt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_documents_missing_sig_table_raises_typed(
        spark, split_engine, tmp_path):
    eng, _, _ = split_engine
    d = {k: str(tmp_path / k) for k in
         ("watch", "corpus", "postings", "log", "ckpt", "sizes")}
    (spark.createDataFrame(
        [(1, "a lone document for the bootstrap error", "en", "t")],
        "doc_id long, text string, lang string, source string")
     .coalesce(1).write.mode("overwrite").json(d["watch"]))
    with pytest.raises(ValueError, match="materialize_signatures"):
        eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"],
            sig_table="no_such_sig_table",
            sig_path=str(tmp_path / "nope"))


def test_extend_signatures_n_mismatch_refuses_typed(spark,
                                                    split_engine,
                                                    tmp_path):
    """_sig_meta.json pins the shingle width: an increment at a
    different n has the same columns but incompatible minima — typed
    refusal, never silent sketch corruption."""
    eng, drop1, _ = split_engine
    pt, st = "test_sig_post4", "test_sig_tbl4"
    try:
        eng.materialize_postings(pt, str(tmp_path / "post"))
        eng.materialize_signatures(pt, st, str(tmp_path / "sig"),
                                   k=16, n=3)
        with pytest.raises(ValueError, match="built with n=3"):
            eng.extend_signatures(drop1.select("doc_id", "text"), st,
                                  str(tmp_path / "sig"), n=4)
    finally:
        for t in (pt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_short_docs_never_grow_a_signature_backlog(spark,
                                                   split_engine,
                                                   tmp_path):
    """Docs shorter than the shingle width can never be signed: the
    drain wiring must exclude them from the anti-join candidates
    (pre-fix they re-entered every drain, re-shingled for an empty
    append), and extend_signatures itself skips the empty append."""
    eng, _, _ = split_engine
    pt, st = "test_sig_post5", "test_sig_tbl5"
    d = {k: str(tmp_path / k) for k in
         ("watch", "corpus", "postings", "log", "sizes", "ckpt")}
    docs = [(900, "tiny", "en", "t"),          # 1 word: unsignable
            (901, "two words", "en", "t"),     # 2 words: unsignable
            (902, "three whole words here now okay", "en", "t")]
    (spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string")
     .coalesce(1).write.mode("overwrite").json(d["watch"]))
    try:
        eng.materialize_postings(pt, str(tmp_path / "post"))
        eng.materialize_signatures(pt, st, str(tmp_path / "sig"), k=16)
        eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"],
            sig_table=st, sig_path=str(tmp_path / "sig"))
        signed = {r.doc_id for r in
                  spark.table(st).select("doc_id").collect()}
        assert 902 in signed and 900 not in signed and 901 not in signed
        # second drain: nothing signable remains; no append happens
        n_before = spark.table(st).count()
        eng.ingest_documents(
            d["watch"], d["corpus"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"],
            sig_table=st, sig_path=str(tmp_path / "sig"))
        assert spark.table(st).count() == n_before
        # and the direct call with ONLY unsignable docs is a no-op
        eng.extend_signatures(
            spark.createDataFrame([(903, "nope")],
                                  "doc_id long, text string"),
            st, str(tmp_path / "sig"))
        assert spark.table(st).count() == n_before
    finally:
        for t in (pt, st):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
