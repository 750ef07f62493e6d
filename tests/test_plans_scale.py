"""Physical-plan audits: the scale discipline SURVEY.md §4 promises,
checked against what Catalyst actually produces.

These assert on `explain` output so a regression that silently turns a
broadcast join into a shuffle join, or drops a parquet filter pushdown,
fails CI — not a 100 TB run."""

from __future__ import annotations

import re

import pytest

from data_ingestion_challenge_spark.plans import QUERIES

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    # Default metadata truncation (100 chars) cuts off ReadSchema in
    # wide scans — raise it so audits see the full scan description.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), \
        "shipdate predicate must reach the parquet scan"


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols, \
        f"q1 reads unused columns: {read_cols}"


def test_q5_broadcasts_dims(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3, \
        "dim joins (supplier/customer/nation⋈region) must broadcast"


def test_q3_broadcasts_customer_filter(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_token_counts_prunes_text_table(spark):
    plan = _plan(spark, "token_counts")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "lang" not in read_cols and "source" not in read_cols, \
        f"token_counts reads unused columns: {read_cols}"


# Queries whose semantics genuinely need a non-equi join (range joins,
# pair generation, scalar-subquery cross joins on 1-row sides).
NON_EQUI_OK = {
    "rolling_7d_dau", "signup_cohort_retention",     # range joins
    "dau_wau_stickiness",                            # 7d WAU range join
    # dedup_embedding_cosine / dedup_clusters / dedup_keep_list were
    # whitelisted here in r1 (all-pairs BNLJ); the blocked-gemm rewrite
    # (operators/similarity.py:embedding_cosine_pairs) removed the need.
    "ann_bruteforce_topk",                           # broadcast q × corpus
    "funnel_signup_purchase", "avg_acctbal_positive", # 1-row cross joins
    "funnel_3step_strict",                # 1-row stage-count cross joins
    "label_centroid_drift",               # 1-row global-norm scalar
    "q11_significant_parts", "q22_idle_rich_customers", # 1-row thresholds
    "range_join_value_bands",                        # 4-row band dim
    "customer_rfm_segments",                         # 1-row max-date scalar
    "tfidf_top_terms",                               # 1-row corpus-N scalar
    "bm25_topk",                          # 1-row (N, avgdl) scalar
    "boilerplate_sentences",              # 1-row corpus-N scalar
    "source_outlier_score",   # |sources|-row broadcast score grid
    "source_minhash_overlap",  # |sources|-row broadcast pair compare
    "token_pmi_bigrams",       # 1-row (b_total, u_total) scalar
    "source_token_kl",         # 1-row corpus-total scalar
    "weekly_churn",            # 1-row max-week scalar (range compare)
    "pq_subspace_variance",    # 1-row embedding-dim scalar
    "customer_value_deciles",  # 1-row grand-total value scalar
    "vocab_coverage_curve",    # 1-row total-occurrences scalar +
                               # |ks|-row cutoff join onto ≤max(k) rows
    "user_retention_curve",    # 1-row horizon scalar + ≤|days|²-row
                               # eligibility range join (both tiny,
                               # pinned in tests/test_r16_plans.py)
}

STREAMING = {"streaming_hourly_rollup", "streaming_sessionize",
             "streaming_dedup", "streaming_dedup_watermark",
             "streaming_attribution"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(name, spark):
    """CartesianProduct (shuffled n×m) must never appear; broadcast
    nested-loop is acceptable only for the whitelisted non-equi ops."""
    if name in STREAMING:
        pytest.skip("streaming plan not inspectable pre-execution")
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} shuffles a cartesian"
    if name not in NON_EQUI_OK:
        assert "BroadcastNestedLoopJoin" not in plan, \
            f"{name} fell back to nested-loop join"


def test_hourly_rollup_partial_aggregation(spark):
    """Map-side combine: hash aggregate must appear twice (partial +
    final) around the shuffle."""
    plan = _plan(spark, "hourly_user_events")
    assert plan.count("HashAggregate") >= 2


def test_bpe_merge_candidates_is_vocab_sized_topk(spark):
    """The pair explode must hang off the VOCAB aggregate (two
    map-side-combined HashAggregate pairs: word-freq, then
    pair-count) and the top-k must be TakeOrderedAndProject — a
    global sort or a corpus-sized explode would not survive 100 TB."""
    plan = _plan(spark, "bpe_merge_candidates")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4


def test_top_users_uses_take_ordered(spark):
    plan = _plan(spark, "top_users")
    assert "TakeOrderedAndProject" in plan, \
        "top-k must not materialize a global sort"


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must shuffle exactly once (on
    user_id) — a second exchange means the window ordering or the
    union re-partitioned."""
    plan = _plan(spark, "asof_last_touch")
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1, f"as-of join shuffles {n_exchanges}×"
    assert "user_id" in plan[plan.index("Exchange"):].split("\n")[0]


def test_band_join_broadcasts(spark):
    """The range join must broadcast the 4-row band dim, never shuffle
    the event side pre-join."""
    plan = _plan(spark, "range_join_value_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_single_scan(spark):
    """ROLLUP grains expand from ONE parquet scan (Expand node), with
    partial aggregation before the shuffle."""
    plan = _plan(spark, "time_rollup_multi_grain")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle vocabulary must broadcast — shuffling the
    100 TB corpus side against a KB-scale eval set would be the classic
    scale bug."""
    plan = _plan(spark, "decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redaction_no_shuffle(spark):
    """Redaction is a narrow map: zero exchanges in the plan."""
    plan = _plan(spark, "pii_redaction_audit")
    assert "Exchange" not in plan


def test_per_source_cap_salted_topk(spark):
    """Skew-proof exact top-N per key: the FIRST rank pass must
    partition on (source, _salt) — a window over bare `source` ahead
    of the salted prefilter would single-task a hot domain (the r1
    weakness).  The exact `source` rank may only run on the ≤
    SALTS×CAP salted survivors."""
    plan = _plan(spark, "per_source_cap")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in p and "source" in p for p in parts), \
        f"no (source, _salt) shuffle — hot-source rank unsalted: {parts}"


def test_verification_priority_from_driver_artifacts(spark):
    """Registration order derives from CORRECTNESS_r*.json: every
    entry whose latest driver record failed sorts before every entry
    with a green record (unchecked entries in between), and green
    entries rotate LEAST-recently-checked first so stale records
    re-enter the driver's ~50-query window as testdata regenerates."""
    from pathlib import Path

    from data_ingestion_challenge_spark.plans import (
        QUERIES, _driver_verdicts)

    verdicts = _driver_verdicts()
    root = Path(__file__).resolve().parents[1]
    if not list(root.glob("CORRECTNESS_r*.json")):
        import pytest
        pytest.skip("no driver artifacts in this checkout")
    names = list(QUERIES)
    pos = {n: i for i, n in enumerate(names)}
    failed = [n for n in names if n in verdicts and not verdicts[n][0]]
    green = [n for n in names if n in verdicts and verdicts[n][0]]
    if failed and green:
        assert max(pos[n] for n in failed) < min(pos[n] for n in green)
    unchecked = [n for n in names if n not in verdicts]
    if unchecked and green:
        assert max(pos[n] for n in unchecked) < min(pos[n] for n in green)
    # LRU rotation: within the green tier, an entry last checked in an
    # earlier round always precedes one checked in a later round.
    for a in green:
        for b in green:
            if verdicts[a][1] < verdicts[b][1]:
                assert pos[a] < pos[b], (
                    f"{a} (r{verdicts[a][1]}) should precede "
                    f"{b} (r{verdicts[b][1]})")


def test_doc_containment_df_capped_postings(spark):
    """The inverted-index self-join must run on df-CAPPED postings:
    the `_df <= 64` filter bounds every posting list BEFORE the join,
    and the intersection count partial-aggregates (map-side combine).
    Without the cap a boilerplate fingerprint's posting list joins
    quadratically in one task at 100 TB."""
    plan = _plan(spark, "doc_containment")
    assert re.search(r"<= 64", plan), "df-cap filter missing from plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2, \
        "intersection count must partial-aggregate before the shuffle"


def test_decontaminate_substring_broadcast_semi_mark(spark):
    """The eval fingerprint set (corpus-independent size) must
    BROADCAST against the corpus winnow pass — a shuffle join here
    re-shuffles the 100 TB corpus against a KB-scale eval set; and
    there must be no corpus self-join at all."""
    plan = _plan(spark, "decontaminate_substring")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_candidate_pairs_sub_quadratic(spark):
    """dedup_keep_list's pair feed must be SUB-quadratic: candidate
    pairs are bounded by cell co-residency, O(n · nprobe²·cell), not
    all-pairs.  The repo's 500-row embeddings table is degenerate for
    this bound (n < nprobe²·cell), so audit on synthetic clustered
    vectors at a scale where the bound bites: n=4096, cell=32,
    nprobe=2 → expected candidates ≈ n·nprobe²·cell/2 ≈ 260k ≪ 8.4M
    all-pairs.  Asserts <15% of all-pairs (5× slack over balanced
    cells) and a cell equi-join plan (no cartesian)."""
    import numpy as np

    from data_ingestion_challenge_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    n, dim, k = 4096, 16, 64
    centers = rng.randn(k, dim) * 4
    vecs = centers[rng.randint(0, k, n)] + rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    pairs = S.ivf_candidate_pairs(emb, tau=2.0, nprobe=2, cell=32)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # tau=2.0 > max cosine, so every surviving row was a candidate that
    # paid the exact check — count candidates via the pre-tau stage.
    probe = S._ivf_probe_assignments(emb, nprobe=2, cell=32)
    occ = probe.groupBy("_cell").count().toPandas()["count"]
    cand = int((occ * (occ - 1) // 2).sum())
    allp = n * (n - 1) // 2
    assert cand < 0.15 * allp, \
        f"IVF candidates not sub-quadratic: {cand}/{allp}"


def test_gopher_filter_no_shuffle_single_split(spark):
    """The quality-rule battery is a narrow map — zero exchanges — and
    the tokenizing split(text) must be BOUND ONCE (a collapsed
    projection re-evaluates it per rule, ~10× the scan CPU at 100 TB;
    higher-order lambdas already force this Project out of codegen, so
    there is no codegen CSE to save us)."""
    plan = _plan(spark, "gopher_quality_filter")
    assert "Exchange" not in plan
    assert plan.count("split(text") <= 1, \
        f"split(text) evaluated {plan.count('split(text')}× in the plan"


def test_quantize_no_shuffle(spark):
    """int8 quantization is per-row array math: zero exchanges."""
    plan = _plan(spark, "embedding_quantize_int8")
    assert "Exchange" not in plan


def test_token_topk_distributed_take_ordered(spark):
    """The corpus-level top-50 must use TakeOrderedAndProject (partial
    per-partition top-k) — a global sort of the vocabulary would
    single-task the 100 TB token table."""
    plan = _plan(spark, "token_freq_topk")
    assert "TakeOrderedAndProject" in plan


def test_ngram_prefix_windows_fused(spark):
    """The PPJoin prefix stage computes per-doc size AND df-rank in ONE
    Window node (shared (doc_id, _df, s) sort): splitting the specs
    plans two full sorts of the posting table per self-join branch —
    the r3 dedup_ngram_jaccard regression.  The full query self-joins
    the prefix, so the plan carries exactly one Window per branch."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert plan.count("Window ") <= 2, \
        f"prefix windows not fused: {plan.count('Window ')} Window nodes"


def test_unigram_logloss_broadcasts_frequency_model(spark):
    """The vocabulary-sized frequency table must broadcast to the
    scoring join — shuffling the exploded token stream against it
    would add a corpus-sized exchange at 100 TB."""
    plan = _plan(spark, "doc_unigram_logloss")
    assert "BroadcastHashJoin" in plan, "freq model not broadcast"


def test_repeated_substrings_no_pair_join(spark):
    """corpus_repeated_substrings must stay linear: gram->count
    aggregate + vocabulary join, never a doc-pair product."""
    plan = _plan(spark, "corpus_repeated_substrings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2, "no map-side combine"


def test_keep_best_quality_broadcasts_clusters(spark):
    """The cluster-label table (pair-graph members only, << corpus)
    must broadcast back onto the corpus token table."""
    plan = _plan(spark, "dedup_keep_best_quality")
    assert "BroadcastHashJoin" in plan, "cluster labels not broadcast"


def test_jaccard_bucketed_posting_no_shingle_exchange(spark):
    """The materialized posting/prefix lake tables are bucketed by
    shingle so every s-keyed join in the jaccard pipeline (candidate
    self-join, verification probes) rides the bucketing: the physical
    plan must contain NO hashpartitioning exchange on s — only the
    doc_id exchanges of the window/size aggregations."""
    import re
    import tempfile

    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    eng = Engine(sf, spark=spark)
    eng.materialize_postings("audit_post_sc", tempfile.mkdtemp())
    eng.materialize_prefix("audit_post_sc", "audit_pref_sc",
                           tempfile.mkdtemp(), tau=0.8)
    df = D.ngram_jaccard_pairs(
        Catalog(spark, sf).documents, n=3, tau=0.8,
        posting=spark.table("audit_post_sc"),
        prefix=spark.table("audit_pref_sc"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for ex in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert not ex.strip().startswith("s#"), \
            f"shingle-keyed exchange survived the bucketing: {ex}"
    spark.sql("DROP TABLE IF EXISTS audit_post_sc")
    spark.sql("DROP TABLE IF EXISTS audit_pref_sc")


def test_incremental_dedup_no_corpus_side_shingle_exchange(
        spark, monkeypatch, tmp_path):
    """Engine.dedup_incoming reads the corpus through a bucketed
    posting table: the screen's corpus-side semi join must scan it
    ONCE and never shuffle it on s — the batch shingles broadcast."""
    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.operators import dedup as D

    plans, orig = [], D._batch_shingle_rel

    def _spy(all_post, bsh):
        rel = orig(all_post, bsh)
        plans.append(rel._jdf.queryExecution().executedPlan().toString())
        return rel

    monkeypatch.setattr(D, "_batch_shingle_rel", _spy)
    eng = Engine(SF_DIR, spark=spark)
    eng.materialize_postings("audit_inc_post", str(tmp_path / "post"))
    try:
        docs = eng.catalog.documents
        eng.dedup_incoming(docs.where(docs.doc_id % 7 == 0),
                           "audit_inc_post").collect()
        (plan,) = plans  # dedup_incoming ran the one screen
        # (the batch _postings distinct is keyed on doc_id first)
        assert not re.search(r"Exchange hashpartitioning\(s#", plan)
        assert plan.count("default.audit_inc_post[") == 1
        assert "BroadcastExchange" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS audit_inc_post")


def test_bpe_pmi_top_k_distributed(spark):
    """Collocation/BPE rankers must compile orderBy+limit to
    TakeOrderedAndProject (distributed partial top-k): the only
    unpartitioned window allowed is the rank over the k survivors."""
    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.operators.collocation import (
        bpe_merge_candidates, token_pmi_bigrams,
    )
    docs = Catalog(spark, SF_DIR).documents
    for df in (bpe_merge_candidates(docs, k=25),
               token_pmi_bigrams(docs, k=25)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


def test_label_outlier_model_joins_broadcast(spark):
    """label_outlier_vectors re-attaches the |labels|·d centroid-sum
    model by broadcast (never a corpus-sized shuffle join) and takes
    its bottom-k distributed."""
    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.operators.embstats import (
        label_outlier_vectors,
    )
    emb = Catalog(spark, SF_DIR).embeddings
    plan = (label_outlier_vectors(emb, k=25)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_power_user_concentration_no_builtin_global_ntile(spark):
    """The Pareto audit's centile assignment must ride
    ranking.global_ntile — Spark's own ntile over an unpartitioned
    window (single-task sort of every user) must not leak in."""
    import re

    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.operators.stats import (
        power_user_concentration,
    )
    ev = Catalog(spark, SF_DIR).events
    plan = (power_user_concentration(ev)
            ._jdf.queryExecution().executedPlan().toString())
    assert not re.search(r"Window \[[^\]]*ntile", plan)
