"""Round-6 curation operators: Spark vs DuckDB parity + plan audits.

These ops are not yet registered (round-5 registration budget is held
for the driver's stale-entry rotation — SURVEY §7); this test runs the
exact comparison the driver will run once they are.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from data_ingestion_challenge_spark.operators import curation as C

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    con.sql("CREATE VIEW snap_a AS SELECT * FROM documents "
            "WHERE doc_id % 2 = 0")
    con.sql("CREATE VIEW snap_b AS SELECT * FROM documents "
            "WHERE doc_id % 2 = 1")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in order) for r in rows)


def _compare(sdf, duck, sql):
    ddf = duck.sql(sql)
    assert sorted(sdf.columns) == sorted(ddf.columns)
    srows = _rowset(sdf.collect(), sdf.columns)
    drows = _rowset(ddf.fetchall(), list(ddf.columns))
    assert srows == drows


def test_reservoir_sample_matches_oracle(spark, cat, duck):
    sdf = C.reservoir_sample(cat.documents, "doc_id", 50)
    _compare(sdf, duck, C.oracle_reservoir_sample(
        "documents", "doc_id", 50,
        cols="doc_id, text, lang, source, n_chars"))


def test_reservoir_sample_is_partial_topn(cat):
    """The plan must be TakeOrderedAndProject (map-side partial top-n),
    not a global sort — the property that makes it linear at 100 TB."""
    plan = C.reservoir_sample(cat.documents, "doc_id", 50) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_reservoir_sample_deterministic_and_uniformish(cat):
    a = {r.doc_id for r in
         C.reservoir_sample(cat.documents, "doc_id", 80).collect()}
    b = {r.doc_id for r in
         C.reservoir_sample(cat.documents, "doc_id", 80).collect()}
    assert a == b and len(a) == 80
    # A different salt draws a genuinely different sample.
    c = {r.doc_id for r in
         C.reservoir_sample(cat.documents, "doc_id", 80,
                            salt="other").collect()}
    assert c != a


def test_token_share_drift_matches_oracle(spark, cat, duck):
    docs = cat.documents
    a = docs.where(docs.doc_id % 2 == 0)
    b = docs.where(docs.doc_id % 2 == 1)
    sdf = C.token_share_drift(a, b)
    _compare(sdf, duck, C.oracle_token_share_drift("snap_a", "snap_b"))


def test_token_share_drift_disjoint_sources(spark):
    a = spark.createDataFrame(
        [(1, "one two three", "web")], "doc_id long, text string, source string")
    b = spark.createDataFrame(
        [(2, "four five", "books")], "doc_id long, text string, source string")
    rows = {r.source: r for r in C.token_share_drift(a, b).collect()}
    assert rows["web"].a_share == 1.0 and rows["web"].b_share == 0.0
    assert rows["books"].share_delta == 1.0
    assert rows["web"].log2_ratio is None  # vanished source: no ratio


def test_chunk_windows_matches_oracle(spark, cat, duck):
    for chunk, stride in ((16, 16), (16, 8)):
        sdf = C.chunk_windows(cat.documents, chunk, stride)
        _compare(sdf, duck,
                 C.oracle_chunk_windows("documents", chunk, stride))


def test_chunk_windows_covers_every_token(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))],
        "doc_id long, text string")
    out = C.chunk_windows(df, chunk_tokens=4, stride=3).collect()
    # starts 0,3,6,9 — last is a 1-token partial window
    assert [r.start_token for r in out] == [0, 3, 6, 9]
    assert [r.n_tokens for r in out] == [4, 4, 4, 1]
    assert out[0].chunk_text == "t0 t1 t2 t3"
    assert out[-1].chunk_text == "t9"
    covered = set()
    for r in out:
        covered.update(range(r.start_token, r.start_token + r.n_tokens))
    assert covered == set(range(10))


def test_chunk_windows_no_shuffle(cat):
    plan = C.chunk_windows(cat.documents, 32) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_engine_facade_bindings(spark):
    from data_ingestion_challenge_spark.api import Engine
    eng = Engine(SF_DIR, spark=spark)
    assert eng.sample_corpus(10).count() == 10
    docs = eng.table("documents")
    drift = eng.corpus_drift(docs.where(docs.doc_id % 2 == 0),
                             docs.where(docs.doc_id % 2 == 1))
    assert {"a_share", "b_share", "share_delta"} <= set(drift.columns)
    chunks = eng.chunk_corpus(chunk_tokens=32)
    assert chunks.count() >= docs.count()


def test_snapshot_diff_matches_oracle(spark, cat, duck, tmp_path):
    docs = cat.documents
    # snapshot b: drop doc_ids % 7 == 0 (removed), mutate % 5 == 0
    # (changed), add two new docs
    base = docs.where(docs.doc_id % 7 != 0)
    changed = base.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" mutated")))
        .otherwise(F.col("text")))
    extra = spark.createDataFrame(
        [(900001, "brand new doc", "en", "web", 13),
         (900002, "another new doc", "en", "web", 15)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    snap_b = changed.unionByName(extra)
    duck.sql("CREATE OR REPLACE VIEW diff_a AS SELECT * FROM documents")
    bpath = str(tmp_path / "diff_b.parquet")
    snap_b.toPandas().to_parquet(bpath)
    duck.sql(f"CREATE OR REPLACE VIEW diff_b AS SELECT * FROM "
             f"read_parquet('{bpath}')")
    sdf = C.snapshot_diff(docs, snap_b)
    _compare(sdf, duck, C.oracle_snapshot_diff("diff_a", "diff_b"))
    got = {r.doc_id: r.status for r in sdf.collect()}
    assert got[900001] == "added"
    assert got[7] == "removed"
    assert all(got[i] == "changed" for i in got
               if i % 5 == 0 and i % 7 != 0 and i < 900000)


def test_snapshot_diff_null_text(spark, duck, tmp_path):
    """A doc PRESENT with NULL text must read changed/unchanged —
    never added/removed (presence rides flags, not hash nullness) —
    and match the oracle on the same rows."""
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    a = spark.createDataFrame(
        [(1, None, "en", "web", 0), (2, "same", "en", "web", 4),
         (3, None, "en", "web", 0)], schema)
    b = spark.createDataFrame(
        [(1, "now has text", "en", "web", 12),
         (2, "same", "en", "web", 4),
         (3, None, "en", "web", 0)], schema)
    got = {r.doc_id: r.status
           for r in C.snapshot_diff(a, b).collect()}
    assert got == {1: "changed", 2: "unchanged", 3: "unchanged"}
    pa_, pb_ = str(tmp_path / "na.parquet"), str(tmp_path / "nb.parquet")
    a.toPandas().to_parquet(pa_)
    b.toPandas().to_parquet(pb_)
    duck.sql(f"CREATE OR REPLACE VIEW null_a AS SELECT * FROM "
             f"read_parquet('{pa_}')")
    duck.sql(f"CREATE OR REPLACE VIEW null_b AS SELECT * FROM "
             f"read_parquet('{pb_}')")
    _compare(C.snapshot_diff(a, b), duck,
             C.oracle_snapshot_diff("null_a", "null_b"))


def test_ngram_novelty_matches_oracle(spark, cat, duck):
    sdf = C.ngram_novelty(cat.documents, 3)
    _compare(sdf, duck, C.oracle_ngram_novelty("documents", 3))
    rows = {r.doc_id: r for r in sdf.collect()}
    # planted near-dups exist → some docs share most shingles
    assert any(r.novelty is not None and r.novelty < 0.5
               for r in rows.values())
    # ...and the signal spreads (not all-constant) on this corpus.
    vals = {r.novelty for r in rows.values() if r.novelty is not None}
    assert len(vals) > 10 and max(vals) > 0.5


def test_ngram_novelty_leaves_no_cached_frame(spark):
    """The registered query materializes its result and releases the
    postings it cached: a run leaves the cache manager empty."""
    from data_ingestion_challenge_spark.plans import QUERIES

    spark.catalog.clearCache()
    QUERIES["ngram_novelty"](spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_engine_check_all(spark):
    from data_ingestion_challenge_spark.api import Engine
    eng = Engine(SF_DIR, spark=spark)
    out = eng.check_all(["q1_pricing_summary", "token_counts",
                         "dedup_exact"])
    assert out["passed"] == ["q1_pricing_summary", "token_counts",
                             "dedup_exact"]
    assert not out["failed"] and not out["skipped"]
    assert all(v["values_match"] for v in out["results"].values())


def test_bm25_semantics_and_plan(spark):
    """BM25 on a hand-checkable corpus: the doc with more query-term
    occurrences (tf) ranks first; a doc with none never appears; and
    the query-side stats reach the corpus tf table as a BROADCAST
    join (the scale contract — no corpus-side shuffle on token)."""
    from data_ingestion_challenge_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [(1, "hash join hash join hash"),          # tf-heavy
         (2, "hash join and a filter scan"),       # one each
         (3, "sort spill window frame")],          # no query terms
        "doc_id long, text string")
    out = bm25_topk(docs, [("q", "hash join")], k=10)
    rows = out.orderBy("rank").collect()
    assert [r.doc_id for r in rows] == [1, 2]
    assert rows[0].bm25 > rows[1].bm25 > 0
    assert [r.rank for r in rows] == [1, 2]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bm25_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.retrieval import (
        bm25_topk, oracle_bm25_topk,
    )
    qs = [("qa", "hash join merge"), ("qb", "scan filter batch")]
    _compare(bm25_topk(cat.documents, qs, k=10), duck,
             oracle_bm25_topk("documents", qs, k=10))


def test_engine_retrieve(spark):
    from data_ingestion_challenge_spark.api import Engine
    eng = Engine(SF_DIR, spark=spark)
    out = eng.retrieve([("q", "hash join")], k=5)
    rows = out.collect()
    assert len(rows) == 5
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == \
        [1, 2, 3, 4, 5]


def test_bm25_oracle_escapes_quotes(spark, duck):
    """Query terms with apostrophes must render as valid SQL (and
    match the Spark side) — unescaped interpolation was both a parse
    error and an injection vector."""
    from data_ingestion_challenge_spark.operators.retrieval import (
        bm25_topk, oracle_bm25_topk,
    )
    docs = spark.createDataFrame(
        [(1, "don't stop the hash join"), (2, "plain scan filter")],
        "doc_id long, text string")
    duck.sql("CREATE OR REPLACE VIEW esc_docs AS "
             "SELECT 1::BIGINT AS doc_id, "
             "'don''t stop the hash join' AS text "
             "UNION ALL SELECT 2, 'plain scan filter'")
    qs = [("q'1", "don't hash")]
    sql = oracle_bm25_topk("esc_docs", qs, k=5)
    drows = sorted(tuple(r) for r in duck.sql(sql).fetchall())
    srows = sorted(tuple(r) for r in bm25_topk(docs, qs, k=5).collect())
    assert srows == drows and len(srows) == 1
    assert srows[0][1] == 1  # doc 1 matches both terms
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, [])


def test_bm25_drops_empty_tokens(spark, duck):
    """Messy whitespace: consecutive/leading spaces must not inflate
    doc length or introduce a scorable '' term, on BOTH engines; a
    blank query text is rejected outright."""
    from data_ingestion_challenge_spark.operators.retrieval import (
        bm25_topk, oracle_bm25_topk,
    )
    docs = spark.createDataFrame(
        [(1, "  hash  join   hash"), (2, "hash join")],
        "doc_id long, text string")
    clean = spark.createDataFrame(
        [(1, "hash join hash"), (2, "hash join")],
        "doc_id long, text string")
    qs = [("q", "hash  join ")]
    got = sorted(tuple(r) for r in bm25_topk(docs, qs, k=5).collect())
    want = sorted(tuple(r) for r in
                  bm25_topk(clean, [("q", "hash join")], k=5).collect())
    assert got == want and len(got) == 2
    duck.sql("CREATE OR REPLACE VIEW messy_docs AS "
             "SELECT 1::BIGINT AS doc_id, "
             "'  hash  join   hash' AS text "
             "UNION ALL SELECT 2, 'hash join'")
    drows = sorted(tuple(r) for r in duck.sql(
        oracle_bm25_topk("messy_docs", qs, k=5)).fetchall())
    assert drows == got
    import pytest as _pytest
    with _pytest.raises(ValueError, match="blank"):
        bm25_topk(docs, [("q", "   ")])
    with _pytest.raises(ValueError, match="blank"):
        oracle_bm25_topk("messy_docs", [("q", " ")])
