"""Corpus-curation + ingest-screen queries (SURVEY.md §2C, round-6
registration of the operators built in round 5):

- the five curation operators (operators/curation.py): deterministic
  reservoir sampling, token-share drift between snapshots, overlapping
  chunk windows, per-doc snapshot diff, n-gram novelty;
- the ingest-time admission screen's verdict
  (operators/dedup.incremental_dedup_verdict — the streaming sink's
  one screen, operators/dedup._screen_pairs) on the standard
  doc_id%5 batch/corpus split;
- the two-level (coarse-quantized) IVF probe's recall gate
  (operators/similarity.ivf2_probe_assignments) — the 100 TB
  index-BUILD path, gated like ann_ivf_trained_topk (recall
  threshold, not value-exact: the probe is approximate by design);
- BM25 lexical retrieval (operators/retrieval.py) — query-based
  curation over the documents table, decimal-exact scoring so the
  top-k rank is deterministic cross-engine.

Each query is a thin registration shim — semantics, scale notes, and
the oracle builders live with the operators; parity for the first six
was already locked by tests/test_curation.py and
tests/test_operators.py before registration.

Snapshot derivation convention (the driver provides ONE documents
table): snapshots are deterministic doc_id-arithmetic splits/mutations
of it, expressed identically in the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from data_ingestion_challenge_spark.catalog import Catalog
from data_ingestion_challenge_spark.operators import curation as C
from data_ingestion_challenge_spark.operators import similarity as S
from data_ingestion_challenge_spark.operators.dedup import (
    incremental_verdict_oracle_sql,
)
from data_ingestion_challenge_spark.operators.retrieval import (
    oracle_bm25_topk,
)
from data_ingestion_challenge_spark.plans.registry import query

# ------------------------------------------------------------- sample

@query(
    "reservoir_sample",
    # Deterministic fixed-size uniform sample: salted-md5 rank top-n.
    # Identical rank expression + tie-break both engines.
    oracle=C.oracle_reservoir_sample(
        "documents", "doc_id", 100,
        cols="doc_id, text, lang, source, n_chars"),
)
def reservoir_sample(cat: Catalog) -> DataFrame:
    """Plan = TakeOrderedAndProject: per-task partial top-n (O(rows)
    work, O(n) memory), one n·n_tasks driver merge — no global sort,
    no data shuffle; linear at 100 TB (operators/curation.py)."""
    return C.reservoir_sample(cat.documents, "doc_id", 100)


# -------------------------------------------------------------- drift

@query(
    "token_share_drift",
    # Snapshots = even/odd doc_id halves of the corpus; whitespace
    # token count matches the registered token_counts op.
    oracle=C.oracle_token_share_drift(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0) AS ta",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1) AS tb"),
)
def token_share_drift(cat: Catalog) -> DataFrame:
    """Two map-side-combined aggregations on the low-cardinality
    source key + one broadcast-sized full outer join — two linear
    scans at 100 TB, constant-size output."""
    docs = cat.documents
    return C.token_share_drift(docs.where(docs.doc_id % 2 == 0),
                               docs.where(docs.doc_id % 2 == 1))


# ----------------------------------------------------------- chunking

@query(
    "chunk_windows",
    oracle=C.oracle_chunk_windows("documents", 32, 16),
)
def chunk_windows(cat: Catalog) -> DataFrame:
    """Long-context training chunking: 32-token windows, stride 16
    (2× overlap).  Pure Catalyst explode (split→sequence→explode→
    slice→array_join): zero shuffle, whole-stage codegen; output
    scales by tokens/stride — the data the trainer consumes."""
    return C.chunk_windows(cat.documents, chunk_tokens=32, stride=16)


# ------------------------------------------------------ snapshot diff

_DIFF_B_SQL = ("(SELECT doc_id, CASE WHEN doc_id % 5 = 0 "
               "THEN text || ' mutated' ELSE text END AS text "
               "FROM documents WHERE doc_id % 7 <> 0)")


@query(
    "snapshot_diff",
    # Snapshot b = re-crawl simulation: docs with doc_id%7=0 removed,
    # docs with doc_id%5=0 mutated, rest unchanged — the same
    # arithmetic both engines.
    oracle=C.oracle_snapshot_diff("documents", _DIFF_B_SQL),
)
def snapshot_diff(cat: Catalog) -> DataFrame:
    """One full outer join on doc_id comparing md5(text): both sides
    hash map-side, the join shuffles (key, 32-byte hash) only — never
    the text payload.  Linear at 100 TB; the added/changed rows feed
    incremental downstream recompute."""
    docs = cat.documents
    snap_b = (docs.where(docs.doc_id % 7 != 0)
              .select("doc_id",
                      F.when(col("doc_id") % 5 == 0,
                             F.concat(col("text"), F.lit(" mutated")))
                      .otherwise(col("text")).alias("text")))
    return C.snapshot_diff(docs, snap_b)


# ------------------------------------------------------------ novelty

@query(
    "ngram_novelty",
    oracle=C.oracle_ngram_novelty("documents", 3),
)
def ngram_novelty(cat: Catalog) -> DataFrame:
    """Per-doc share of distinct 3-grams with global df = 1 — the
    inverse-duplication curation signal.  Shares the dedup family's
    posting formulation (skew-safe groupBy+join df stage); one
    shuffle on the shingle, one on doc_id."""
    return C.ngram_novelty(cat.documents, 3)


# ----------------------------------------------- ingest-time verdict

@query(
    "incremental_dedup_verdict",
    # The admission screen's per-doc verdict on the standard
    # batch/corpus split (batch = doc_id%5=0): is_dup, best corpus
    # match (highest rounded jaccard, ties → lowest corpus_doc_id).
    # Oracle builder lives with the operator (parity-tested there
    # pre-registration: tests/test_operators.py).
    oracle=incremental_verdict_oracle_sql("doc_id % 5 = 0"),
)
def incremental_dedup_verdict(cat: Catalog) -> DataFrame:
    """INGEST-TIME dedup (the production arrival screen): the
    admission sink's one screen (operators/dedup._screen_pairs) —
    everything batch-sized except the semi-filtered corpus posting
    scan; one-sided prefix filter bounds candidates, exact
    verification decides, never a corpus self-join."""
    from data_ingestion_challenge_spark.operators.dedup import (
        _postings, incremental_dedup_verdict as _verdict,
    )
    docs = cat.documents
    corpus = docs.where(docs.doc_id % 5 != 0)
    batch = docs.where(docs.doc_id % 5 == 0)
    posting = _postings(corpus, 3)
    # The verdict comes back checkpoint-backed, so the inline corpus
    # posting is released before returning.
    try:
        return _verdict(batch, posting, n=3, tau=0.8)
    finally:
        posting.unpersist()


# ------------------------------------------------- ivf2 recall gate

@query(
    "ivf2_keep_list_recall",
    # The two-level probe is APPROXIMATE (a true nearest cell can
    # hide in an unprobed coarse group) → recall-threshold gate, the
    # ann_ivf_trained_topk pattern: the oracle pins the exact flat
    # candidate-pair count (ivf_candidate_cte replays the flat index
    # bit-for-bit) and asserts the gate literal TRUE; the Spark side
    # computes the real recall and fails the hash if it dips below
    # the floor.  Floor 0.6: measured 0.77-1.0 across sf0.001-0.1
    # (1.0 at the driver's sf0.01 gate).
    oracle=f"""
    WITH {S.ivf_candidate_cte(tau=0.4)}
    SELECT count(*) AS n_pairs_flat, TRUE AS recall_ok FROM pairs
    """,
)
def ivf2_keep_list_recall(cat: Catalog) -> DataFrame:
    """Gate for the 100 TB index-BUILD path: candidate pairs from the
    two-level coarse-quantized probe (O(√nlist) centroid scores per
    vector) must recover ≥60% of the flat probe's exact-verified
    pairs — the keep-list's input.  Extra two-level pairs need no
    gate: both paths end in the exact cosine ≥ τ verify, so any
    extra pair is a TRUE pair the flat cell routing missed."""
    emb = cat.embeddings
    flat = S.ivf_candidate_pairs(emb, tau=0.4).select("vec_a", "vec_b")
    two = (S.ivf_candidate_pairs(
        emb, tau=0.4,
        assignments=S.ivf2_probe_assignments(emb, nprobe=4, cell=128))
        .select("vec_a", "vec_b").withColumn("_hit", F.lit(1)))
    return (flat.join(two, ["vec_a", "vec_b"], "left")
            .agg(F.count("*").alias("n_pairs_flat"),
                 (F.count("_hit") >= 0.6 * F.count("*"))
                 .alias("recall_ok")))


# ------------------------------------------------------------ retrieval

_BM25_QUERIES = [("q_join", "hash join merge"),
                 ("q_scan", "scan filter batch"),
                 ("q_cust", "customer order query")]


@query(
    "bm25_topk",
    # Lexical retrieval for targeted curation: top-10 docs per fixed
    # query by BM25 (Lucene idf variant).  Per-term contributions sum
    # as DECIMAL(20,9) after a 1e-9 round (the msum() trick), so the
    # rank (score DESC, doc_id) is exact and identical cross-engine.
    oracle=oracle_bm25_topk("documents", _BM25_QUERIES, k=10),
)
def bm25_topk(cat: Catalog) -> DataFrame:
    """One tokenize pass feeds tf/dl/df; query-side stats broadcast
    to the corpus tf table; only docs containing ≥1 query term reach
    scoring.  Linear at 100 TB — operators/retrieval.py."""
    from data_ingestion_challenge_spark.operators.retrieval import (
        bm25_topk as _bm25,
    )
    return _bm25(cat.documents, _BM25_QUERIES, k=10)


# ---------------------------------------------------- LSH band tuning

@query(
    "lsh_band_planner",
    # One row per banding of the k=16 MinHash signature: measured
    # candidate-pair count on the corpus + the S-curve collision
    # probabilities as Python-computed literals (identical on both
    # sides by construction — see operators/dedup.lsh_collision_prob).
    oracle=None,  # set below: reuses llm.py's signature CTE fragments
)
def lsh_band_planner(cat: Catalog) -> DataFrame:
    """The (bands, rows) tuning table a deployment reads before a
    100 TB dedup run: S-curve false-negative bound at each τ plus the
    measured verify bill per banding — signature-sized work
    (operators/dedup.lsh_band_planner)."""
    from data_ingestion_challenge_spark.operators.dedup import (
        lsh_band_planner as _planner,
    )
    return _planner(cat.documents, k=16)


def _set_planner_oracle() -> None:
    """The oracle reuses the registered minhash oracle's shingle +
    param CTE fragments (plans/llm.py) so the two can never drift;
    imported lazily here to keep module import order flexible."""
    from dataclasses import replace

    from data_ingestion_challenge_spark.operators.dedup import (
        lsh_band_planner_oracle_sql,
    )
    from data_ingestion_challenge_spark.plans.llm import (
        _MH_VALUES, _SH_CTE,
    )
    from data_ingestion_challenge_spark.plans.registry import QUERIES
    QUERIES["lsh_band_planner"] = replace(
        QUERIES["lsh_band_planner"],
        oracle=lsh_band_planner_oracle_sql(_SH_CTE, _MH_VALUES, k=16))


_set_planner_oracle()


# ------------------------------------------------ boilerplate removal

# The synthetic corpus carries no sentence delimiters, so the gate
# runs over a DERIVED snapshot with deterministically planted
# banners (the snapshot_diff derivation convention): every doc_id%3
# group gets its group's boilerplate sentence prefixed — the
# detector must surface exactly those three, each at ~1/3 doc share,
# at every SF.
_BP_SQL = ("(SELECT doc_id, "
           "'banner ' || (doc_id % 3)::VARCHAR || ' accept terms. ' "
           "|| text AS text FROM documents)")


@query(
    "boilerplate_sentences",
    oracle=__import__(
        "data_ingestion_challenge_spark.operators.dedup",
        fromlist=["oracle_boilerplate_sentences"],
    ).oracle_boilerplate_sentences(_BP_SQL),
)
def boilerplate_sentences(cat: Catalog) -> DataFrame:
    """Corpus-level boilerplate removal table: '. '-split sentences in
    ≥2 distinct docs ranked by spread (C4-style cleaning subtracts
    these).  One sentence shuffle, map-side combined; top-50
    deterministic (operators/dedup.boilerplate_sentences)."""
    from data_ingestion_challenge_spark.operators.dedup import (
        boilerplate_sentences as _bp,
    )
    docs = cat.documents.select(
        "doc_id",
        F.concat(F.lit("banner "),
                 (col("doc_id") % 3).cast("string"),
                 F.lit(" accept terms. "),
                 col("text")).alias("text"))
    return _bp(docs)


@query(
    "dataset_card",
    # Per-source "data card" release summary (datasheet practice):
    # docs, tokens, language spread + dominant language, exact-dup
    # share, mean length — exact integer sums, single rounded
    # divisions, NULL-safe alphabetical top_lang tie-break
    # (operators/curation.py:dataset_card).
    oracle=C.ORACLE_DATASET_CARD,
)
def dataset_card(cat: Catalog) -> DataFrame:
    """Two map-side-combined aggs over one narrow scan; result is
    |sources|-sized."""
    return C.dataset_card(cat.documents)
