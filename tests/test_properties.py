"""Property-based checks: the optimized formulations must equal brute
force on arbitrary small inputs.  These guard exactly the clever parts
— prefix filters, label propagation, union+window as-of — where a
subtle bound error would silently drop results at scale.

Hypothesis drives input generation; each property re-runs the Spark
plan per example, so example counts are kept small (Spark round-trips
are ~100ms each).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

_doc = st.lists(st.sampled_from(WORDS), min_size=3, max_size=10)
_corpus = st.lists(_doc, min_size=2, max_size=8)


def _naive_jaccard_pairs(docs: list[list[str]], n: int, tau: float):
    shingles = [
        {" ".join(d[i:i + n]) for i in range(len(d) - n + 1)}
        for d in docs
    ]
    out = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles[i], shingles[j]
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= 0.8:
                out.add((i, j))
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_ppjoin_equals_naive_all_pairs(spark, docs):
    from data_ingestion_challenge_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id bigint, text string")
    got = {(r["doc_a"], r["doc_b"])
           for r in ngram_jaccard_pairs(df, n=3, tau=0.8).collect()}
    assert got == _naive_jaccard_pairs(docs, 3, 0.8)


_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
        lambda e: e[0] != e[1]),
    min_size=1, max_size=15)


def _union_find_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_edges)
def test_connected_components_equals_union_find(spark, edges):
    from data_ingestion_challenge_spark.operators.graph import (
        connected_components,
    )
    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a bigint, b bigint")
    want = set(_union_find_components(edges).items())
    # BOTH paths must match the model: the small-graph driver-side
    # fast path (default threshold) and the distributed loop
    # (threshold 0 disables the shortcut).
    fast = {(r["id"], r["cluster_id"])
            for r in connected_components(df, "a", "b").collect()}
    dist = {(r["id"], r["cluster_id"])
            for r in connected_components(
                df, "a", "b", local_threshold=0).collect()}
    assert fast == want and dist == want


def test_connected_components_log_rounds_on_path_graph(spark):
    """Pointer doubling bounds the loop at O(log diameter): a 1024-node
    PATH graph (diameter 1023 — the containment-chain worst case) must
    converge within 14 rounds, where plain neighbor-min propagation
    needs 1023.  Convergence is observable in the result: only a
    converged run labels every vertex with the global min (0)."""
    from data_ingestion_challenge_spark.operators.graph import (
        connected_components,
    )
    n = 1024
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               "a bigint, b bigint")
    # local_threshold=0 forces the DISTRIBUTED loop — this test pins
    # the doubling bound, which the small-graph fast path would skip.
    res = connected_components(df, "a", "b", max_iter=14,
                               local_threshold=0).collect()
    assert len(res) == n
    assert {r["cluster_id"] for r in res} == {0}, \
        "path graph not fully labeled in 14 rounds — doubling broken"


_events = st.lists(
    st.tuples(st.integers(0, 2),          # user
              st.integers(0, 120),        # minutes offset
              st.booleans()),             # is_purchase
    min_size=1, max_size=20)


def _naive_asof(rows):
    # rows: (event_id, user, ts_min, is_purchase)
    out = {}
    for eid, u, t, p in rows:
        if not p:
            continue
        best = None
        for eid2, u2, t2, p2 in rows:
            if p2 or u2 != u or t2 > t:
                continue
            key = (t2, eid2)
            if best is None or key > best[:2]:
                best = (t2, eid2)
        out[eid] = best[1] if best else None
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_events)
def test_asof_join_equals_per_row_scan(spark, evs):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.plans.temporal import asof_last_touch

    base = dt.datetime(2024, 1, 1)
    rows = [(i, u, m, p) for i, (u, m, p) in enumerate(evs)]
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=m), u,
          "purchase" if p else "view", 1.0, "{}")
         for i, u, m, p in rows],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string")

    class _FakeCat(Catalog):
        def __init__(self, spark):
            self.spark = spark
            self._cache = {"events": df}
            self.sf_dir = ""

    got = {r["event_id"]: r["touch_event_id"]
           for r in asof_last_touch(_FakeCat(spark)).collect()}
    assert got == _naive_asof(rows)


_run = st.lists(st.sampled_from(WORDS), min_size=6, max_size=6)
_pad = st.lists(st.sampled_from(["pad1", "pad2", "pad3"]),
                min_size=0, max_size=5)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_run, _pad, _pad)
def test_winnowing_guarantee_shared_run_shared_fingerprint(
        spark, run, pad_a, pad_b):
    """Winnowing's coverage guarantee: two docs sharing a run of
    w + n - 1 = 6 words must share ≥1 fingerprint hash."""
    from data_ingestion_challenge_spark.operators.dedup import (
        winnow_fingerprints,
    )
    doc_a = " ".join(pad_a + run)
    doc_b = " ".join(run + pad_b)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id bigint, text string")
    fps = winnow_fingerprints(df, n=3, w=4).collect()
    a = {r["fp_hash"] for r in fps if r["doc_id"] == 0}
    b = {r["fp_hash"] for r in fps if r["doc_id"] == 1}
    assert a & b, "shared 6-word run must yield a shared fingerprint"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_simhash_block_trick_equals_bruteforce(spark, docs):
    """The pigeonhole block join must find EXACTLY the pairs within
    hamming radius — compare against all-pairs hamming on the
    signatures themselves."""
    from data_ingestion_challenge_spark.operators.dedup import simhash_pairs
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id bigint, text string")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs(df, n=3, max_hamming=3).collect()}

    # brute force: recompute signatures per doc in Python
    import hashlib
    sigs = {}
    for i, d in enumerate(docs):
        if len(d) < 3:
            continue
        shingles = {" ".join(d[j:j + 3]) for j in range(len(d) - 2)}
        tallies = [0] * 32
        for s in shingles:
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for b in range(32):
                tallies[b] += 1 if h & (1 << b) else -1
        sigs[i] = sum((1 << b) for b in range(32) if tallies[b] > 0)
    want = {}
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            hd = bin(sigs[a] ^ sigs[b]).count("1")
            if hd <= 3:
                want[(a, b)] = hd
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus, st.sampled_from([0.5, 0.6, 0.9]))
def test_ppjoin_exact_across_thresholds(spark, docs, tau):
    """The prefix/length/positional bounds all depend on τ — verify
    exactness at thresholds other than the registered query's 0.8."""
    from data_ingestion_challenge_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id bigint, text string")
    got = {(r["doc_a"], r["doc_b"])
           for r in ngram_jaccard_pairs(df, n=3, tau=tau).collect()}
    shingles = [
        {" ".join(d[i:i + 3]) for i in range(len(d) - 2)} for d in docs
    ]
    want = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles[i], shingles[j]
            if a and b and len(a & b) / len(a | b) >= tau:
                want.add((i, j))
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_benchmark_overlap_equals_naive_set_math(spark, docs):
    """Decontamination shares equal naive per-doc set intersection
    against the pooled benchmark shingle vocabulary."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import (
        _postings, benchmark_overlap)

    n = 3
    shingles = [
        {" ".join(d[i:i + n]) for i in range(len(d) - n + 1)}
        for d in docs]
    bench_vocab = set().union(
        *(s for i, s in enumerate(shingles) if i % 2 == 0)) \
        if any(i % 2 == 0 for i in range(len(docs))) else set()
    expect = {
        i: (len(s), len(s & bench_vocab))
        for i, s in enumerate(shingles) if i % 2 == 1 and s}

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_overlap)
           for r in benchmark_overlap(
               _postings(df, n), F.col("doc_id") % 2 == 0, tau=0.5)
           .collect()}
    assert got == expect
    # share bounds + flag consistency re-derived from the counts
    for r in benchmark_overlap(_postings(df, n),
                               F.col("doc_id") % 2 == 0).collect():
        assert 0.0 <= r.overlap_share <= 1.0
        assert r.contaminated == (r.n_overlap / r.n_shingles >= 0.5)


@given(st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),       # source
              st.integers(min_value=0, max_value=10_000)),  # doc_id
    min_size=1, max_size=40, unique_by=lambda t: t[1]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_topn_equals_plain_rank(spark, rows):
    """per_source_cap's two-phase salted top-N must select EXACTLY the
    docs a plain row_number over source would — the salt prefilter may
    never lose a global top-CAP candidate (pigeonhole argument in the
    docstring; this drives it with arbitrary key layouts)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col
    from pyspark.sql.window import Window

    cap, salts = 3, 4
    df = spark.createDataFrame(
        [(s, i, 10 * i) for s, i in rows],
        "source string, doc_id long, n_chars long")
    key = F.md5(col("doc_id").cast("string"))
    # reference: single global rank per source
    wref = Window.partitionBy("source").orderBy("_k", "doc_id")
    want = {(r["source"], r["doc_id"]) for r in
            df.withColumn("_k", key)
            .withColumn("rk", F.row_number().over(wref))
            .where(col("rk") <= cap).collect()}
    # two-phase salted variant (the per_source_cap formulation)
    salt = F.pmod(F.xxhash64(col("doc_id")), F.lit(salts))
    wloc = Window.partitionBy("source", "_salt").orderBy("_k", "doc_id")
    got = {(r["source"], r["doc_id"]) for r in
           df.withColumn("_k", key).withColumn("_salt", salt)
           .withColumn("_lrk", F.row_number().over(wloc))
           .where(col("_lrk") <= cap)
           .withColumn("_rk", F.row_number().over(wref))
           .where(col("_rk") <= cap).collect()}
    assert got == want


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_lev_doc = st.lists(st.sampled_from(WORDS), min_size=5, max_size=14)
_lev_corpus = st.lists(_lev_doc, min_size=2, max_size=5)
_lev_edits = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 39),
              st.sampled_from("abcxyz")),
    min_size=0, max_size=3)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_lev_corpus, _lev_edits)
def test_passjoin_segments_equal_naive_all_pairs(spark, docs, edits):
    """dedup_levenshtein's PassJoin segment blocking must find EXACTLY
    the pairs the plain (lang, band) all-pairs join finds — the
    pigeonhole filter (≤5 edits leave one of 6 prefix segments intact
    within a ±5 position shift) may never lose a true pair.  Edited
    near-copies are appended so true pairs actually occur; both the
    40-char segmented path and the short-doc fallback get exercised."""
    from data_ingestion_challenge_spark.plans.llm import dedup_levenshtein

    texts = [" ".join(d) for d in docs]
    for di, pos, ch in edits:
        t = texts[di % len(texts)]
        p = pos % len(t)
        texts.append(t[:p] + ch + t[p + 1:])
    df = spark.createDataFrame(
        [(i, "en", len(t), t) for i, t in enumerate(texts)],
        "doc_id bigint, lang string, n_chars bigint, text string")

    class _Cat:
        documents = df

    got = {(r["doc_a"], r["doc_b"], r["edit_dist"])
           for r in dedup_levenshtein(_Cat()).collect()}
    want = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if len(texts[i]) // 20 != len(texts[j]) // 20:
                continue
            d = _lev(texts[i][:40], texts[j][:40])
            if d <= 5:
                want.add((i, j, d))
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus, st.integers(min_value=0, max_value=7))
def test_incremental_dedup_equals_naive_cross_pairs(spark, docs, seed):
    """The screen's corpus side (_screen_pairs' _corp rows: one-sided
    prefix vs full corpus postings, built as incremental_dedup_verdict
    builds it) must find EXACTLY the naive batch×corpus pairs with
    J ≥ τ, for arbitrary random corpora and batch splits — the
    completeness lemma under test, not just one fixture."""
    from data_ingestion_challenge_spark.operators.dedup import _postings
    from tests.conftest import screen_corpus_pairs

    # Deterministic split: ids ≡ seed (mod 3) form the batch.
    batch_ids = {i for i in range(len(docs)) if i % 3 == seed % 3}
    corpus_ids = set(range(len(docs))) - batch_ids
    if not batch_ids or not corpus_ids:
        return
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.where(df.doc_id.isin(list(corpus_ids)))
    batch = df.where(df.doc_id.isin(list(batch_ids)))
    posting = _postings(corpus, 3)
    try:
        got = {p[:2] for p in screen_corpus_pairs(batch, posting)}
    finally:
        posting.unpersist()
    shingles = [
        {" ".join(d[i:i + 3]) for i in range(len(d) - 2)}
        for d in docs
    ]
    expect = set()
    for b in batch_ids:
        for c in corpus_ids:
            A, B = shingles[b], shingles[c]
            if A and B and len(A & B) / len(A | B) >= 0.8:
                expect.add((b, c))
    assert got == expect


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_doc, st.integers(min_value=1, max_value=6),
       st.integers(min_value=1, max_value=6))
def test_chunk_windows_reconstruction(spark, words, chunk, stride):
    """For ANY doc and chunk/stride: every token is covered, windows
    respect bounds, and at stride == chunk the chunks concatenate back
    to the exact token sequence."""
    from data_ingestion_challenge_spark.operators.curation import (
        chunk_windows,
    )

    stride = min(stride, chunk)  # stride > chunk would skip tokens
    df = spark.createDataFrame([(1, " ".join(words))],
                               "doc_id long, text string")
    out = sorted(chunk_windows(df, chunk, stride).collect(),
                 key=lambda r: r.start_token)
    n = len(words)
    covered = set()
    for r in out:
        assert 1 <= r.n_tokens <= chunk
        toks = r.chunk_text.split(" ")
        assert toks == words[r.start_token:r.start_token + r.n_tokens]
        covered.update(range(r.start_token,
                             r.start_token + r.n_tokens))
    assert covered == set(range(n))
    if stride == chunk:
        rebuilt = " ".join(r.chunk_text for r in out)
        assert rebuilt == " ".join(words)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 15),
                          st.sampled_from(["x", "y", "z", None])),
                min_size=0, max_size=12, unique_by=lambda t: t[0]),
       st.lists(st.tuples(st.integers(0, 15),
                          st.sampled_from(["x", "y", "z", None])),
                min_size=0, max_size=12, unique_by=lambda t: t[0]))
def test_snapshot_diff_equals_dict_model(spark, rows_a, rows_b):
    """snapshot_diff against the obvious python-dict model for ANY
    pair of snapshots, including NULL texts."""
    from data_ingestion_challenge_spark.operators.curation import (
        snapshot_diff,
    )

    schema = "doc_id long, text string"
    a = spark.createDataFrame(rows_a or [], schema)
    b = spark.createDataFrame(rows_b or [], schema)
    got = {r.doc_id: r.status for r in snapshot_diff(a, b).collect()}
    da, db = dict(rows_a), dict(rows_b)
    want = {}
    for k in set(da) | set(db):
        if k not in da:
            want[k] = "added"
        elif k not in db:
            want[k] = "removed"
        else:
            want[k] = "unchanged" if da[k] == db[k] else "changed"
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.lists(st.integers(min_value=-3, max_value=3),
             min_size=8, max_size=8),
    min_size=2, max_size=10))
def test_semdedup_prune_equals_bruteforce(spark, vecs):
    """semdedup_prune == the brute-force model: bucket by the SAME
    seeded hyperplane signs, prune any vector with a lower-index
    bucket-mate at cosine ≥ τ, witness = lowest such index — on
    arbitrary small integer vectors (including zero vectors, whose
    norm-guard must not divide by zero)."""
    import numpy as np

    from data_ingestion_challenge_spark.operators.similarity import (
        _hyperplanes, semdedup_prune,
    )

    dim, bits, tau = 8, 2, 0.9
    X = np.array(vecs, dtype=np.float64)
    planes = np.array(_hyperplanes(dim, bits))
    sig = ((X @ planes.T) > 0) @ (1 << np.arange(bits))
    nrm = np.linalg.norm(X, axis=1)
    nrm[nrm == 0] = 1.0
    S = (X @ X.T) / np.outer(nrm, nrm)
    want = {}
    for j in range(len(vecs)):
        dom = [i for i in range(j)
               if sig[i] == sig[j] and S[j, i] >= tau]
        want[j] = min(dom) if dom else None

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           semdedup_prune(emb, tau=tau, bits=bits, dim=dim).collect()}
    assert set(got) == set(range(len(vecs)))
    for j, w in want.items():
        assert got[j].pruned_by == w, (j, w, got[j])
        assert got[j].kept == (w is None)


# ------------------------------------------- vocab coverage curve

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(WORDS), min_size=1,
                         max_size=8), min_size=1, max_size=6),
       st.integers(min_value=1, max_value=8))
def test_vocab_coverage_equals_naive(spark, docs, k):
    """vocab_coverage_curve == brute-force sorted-frequency cumsum on
    arbitrary tiny corpora, including k beyond the vocabulary."""
    from collections import Counter

    from data_ingestion_challenge_spark.operators.textstats import (
        vocab_coverage_curve,
    )
    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id bigint, text string")
    out = {r.k: r for r in vocab_coverage_curve(df, ks=(k,)).collect()}
    freq = Counter(w for d in docs for w in d)
    ordered = sorted(freq.items(), key=lambda p: (-p[1], p[0]))
    total = sum(freq.values())
    cut = min(k, len(ordered))
    want = sum(c for _, c in ordered[:cut]) / total
    assert out[k].rank_at == cut
    assert abs(out[k].coverage - round(want, 6)) < 1e-9


# -------------------------------------- seasonal-naive baseline MAE

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=13),   # day offset
              st.integers(min_value=0, max_value=3),    # hour
              st.integers(min_value=1, max_value=4)),   # count
    min_size=1, max_size=8))
def test_seasonal_baseline_equals_naive(spark, slots):
    """hourly_seasonal_baseline MAE == per-slot brute force: group
    hourly counts by (dow, hour), baseline = slot mean, MAE = mean
    absolute deviation — across 2 weeks so slots genuinely repeat."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from data_ingestion_challenge_spark.operators.stats import (
        hourly_seasonal_baseline,
    )
    base = datetime(2024, 1, 1)  # a Monday
    rows, eid = [], 0
    hourly = defaultdict(int)
    for day, hour, cnt in slots:
        t = base + timedelta(days=day, hours=hour)
        hourly[t] += cnt
        for _ in range(cnt):
            rows.append((eid, 1, "e", t.strftime("%Y-%m-%d %H:%M:%S")))
            eid += 1
    from pyspark.sql import functions as F
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = hourly_seasonal_baseline(ev).collect()[0]
    by_slot = defaultdict(list)
    for t, n in hourly.items():
        by_slot[(t.weekday(), t.hour)].append(n)
    errs = []
    for ns in by_slot.values():
        mean = sum(ns) / len(ns)
        errs.extend(abs(n - mean) for n in ns)
    assert got.n_hours == len(hourly)
    assert abs(got.mae - round(sum(errs) / len(errs), 4)) < 1e-6


# ------------------------------------ delta-run batching invariance

_deltas = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9),
              st.integers(min_value=-50, max_value=50)),
    min_size=1, max_size=30)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_deltas, st.randoms(use_true_random=False))
def test_append_delta_batching_invariance(spark, tmp_path_factory,
                                          rows, rng):
    """The aggregate-merge LSM's core contract: ANY split of an
    increment stream into sequential append_delta batches lands a
    table identical to the one-shot per-key sum — across random
    splits, duplicate keys inside a batch, negative deltas, and a
    mid-stream auto fold."""
    from collections import defaultdict

    from data_ingestion_challenge_spark.txn import TxnTable

    base = str(tmp_path_factory.mktemp("delta_prop"))
    t = TxnTable.create(
        spark, base + "/t",
        spark.createDataFrame([(0, 100)], "k long, n long"),
        key="k", n_buckets=2)
    cuts = sorted(rng.sample(range(1, len(rows)), 
                             min(3, len(rows) - 1))) \
        if len(rows) > 1 else []
    start = 0
    for i, end in enumerate(cuts + [len(rows)]):
        chunk = rows[start:end]
        start = end
        if chunk:
            t.append_delta(spark.createDataFrame(
                chunk, "k long, n long"))
        if i == 1:
            t.compact_runs(level="auto")
    want = defaultdict(int, {0: 100})
    for k, v in rows:
        want[k] += v
    got = {r.k: r.n for r in t.read().collect()}
    assert got == dict(want)


_run_batches = st.lists(
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 99)),
             min_size=1, max_size=5),
    min_size=1, max_size=6)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_run_batches, st.randoms(use_true_random=False))
def test_append_run_maintenance_schedule_invariance(
        spark, tmp_path_factory, batches, rng):
    """Latest-wins is a pure function of the COMMIT ORDER: any
    schedule of auto folds / full folds / vacuums interleaved into an
    append_run stream (including over a base-less table — the r11
    escalation path) leaves read() identical to a dict replay, and
    the generation count never exceeds the unfolded-batch count."""
    from data_ingestion_challenge_spark.txn import TxnTable

    base = str(tmp_path_factory.mktemp("run_prop"))
    t = TxnTable.create(
        spark, base + "/t",
        spark.createDataFrame([], "k long, v long"),
        key="k", n_buckets=2)
    want: dict[int, int] = {}
    for rows in batches:
        dedup = {}
        for k, v in rows:  # one row per key per commit (the contract)
            dedup[k] = v
        t.append_run(spark.createDataFrame(
            list(dedup.items()), "k long, v long"))
        want.update(dedup)
        op = rng.random()
        if op < 0.3:
            t.compact_runs(level="auto")
        elif op < 0.45:
            t.compact_runs(level="full")
        elif op < 0.6:
            t.vacuum(retain_orphans_s=0)
        assert {r.k: r.v for r in t.read().collect()} == want
    t.compact_runs(level="full")
    t.vacuum(retain_orphans_s=0)
    assert {r.k: r.v for r in t.read().collect()} == want
    assert t.run_generations() == 0


_orders = st.lists(
    st.tuples(st.integers(0, 3),                    # customer
              st.integers(0, 60)),                  # day offset
    min_size=1, max_size=20)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_orders)
def test_order_gap_weeks_equals_naive(spark, orders):
    """The gap histogram equals a per-customer sorted-diff replay —
    including same-date ties, where the gap MULTISET is invariant to
    tie order (consecutive differences of a sorted multiset)."""
    from collections import Counter

    from data_ingestion_challenge_spark.operators.stats import (
        customer_order_gap_weeks,
    )

    rows = [(i, c, dt.datetime(2024, 1, 1) + dt.timedelta(days=d))
            for i, (c, d) in enumerate(orders)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp")
    got = Counter({r.gap_weeks: r.n_gaps
                   for r in customer_order_gap_weeks(df).collect()})
    want: Counter = Counter()
    by_cust: dict[int, list[int]] = {}
    for _, c, d in rows:
        by_cust.setdefault(c, []).append(
            (d - dt.datetime(2024, 1, 1)).days)
    for days in by_cust.values():
        days.sort()
        for a, b in zip(days, days[1:]):
            want[(b - a) // 7] += 1
    assert got == want


_events_weeks = st.lists(
    st.tuples(st.integers(0, 3),                    # user
              st.integers(0, 20)),                  # week offset
    min_size=1, max_size=25)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_events_weeks)
def test_weekly_regularity_equals_naive(spark, evs):
    """The regularity-decile histogram equals an integer replay over
    per-user week sets (Monday-anchored timestamps, so the engine's
    week truncation is exercised but unambiguous)."""
    from collections import Counter

    from data_ingestion_challenge_spark.operators.stats import (
        user_weekly_regularity,
    )

    monday = dt.datetime(2024, 1, 1)  # a Monday
    rows = [(u, monday + dt.timedelta(weeks=w, hours=5))
            for u, w in evs]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = Counter({r.regularity_decile: r.n_users
                   for r in user_weekly_regularity(df).collect()})
    weeks: dict[int, set[int]] = {}
    for u, w in evs:
        weeks.setdefault(u, set()).add(w)
    want: Counter = Counter()
    for ws in weeks.values():
        active, span = len(ws), max(ws) - min(ws) + 1
        want[min((10 * active) // span, 10)] += 1
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_run_batches, st.randoms(use_true_random=False))
def test_changes_consumer_replays_to_table_state(
        spark, tmp_path_factory, batches, rng):
    """CDC soundness under ANY maintenance schedule: a consumer that
    pulls changes(hwm) after every step — re-baselining from a
    snapshot read whenever a boundary-crossing fold forces the typed
    refusal — always converges to the table's exact state."""
    from data_ingestion_challenge_spark.txn import TxnTable

    base = str(tmp_path_factory.mktemp("cdc_prop"))
    t = TxnTable.create(
        spark, base + "/t",
        spark.createDataFrame([], "k long, v long"),
        key="k", n_buckets=2)
    replica: dict[int, int] = {}
    hwm = t.version()
    for rows in batches:
        dedup = {}
        for k, v in rows:
            dedup[k] = v
        t.append_run(spark.createDataFrame(
            list(dedup.items()), "k long, v long"))
        op = rng.random()
        if op < 0.35:
            t.compact_runs(level="auto")
        elif op < 0.5:
            t.compact_runs(level="full")
        head = t.version()
        try:
            replica.update({r.k: r.v
                            for r in t.changes(hwm).collect()})
        except ValueError:
            replica = {r.k: r.v
                       for r in t.read(version=head).collect()}
        hwm = head
    assert replica == {r.k: r.v for r in t.read().collect()}


# --------------------------------------- r16: prefix dedup vs naive


_pdoc = st.lists(st.sampled_from(WORDS), min_size=1, max_size=20)
_pcorpus = st.lists(_pdoc, min_size=2, max_size=10)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_pcorpus, st.sampled_from([2, 3, 16]))
def test_dedup_prefix_equals_naive_grouping(spark, docs, k):
    """dedup_prefix groups EXACTLY the docs whose first min(k, len)
    tokens are identical — including docs shorter than k, where the
    whole doc is the prefix."""
    from data_ingestion_challenge_spark.operators.dedup import (
        dedup_prefix,
    )
    rows = [(i, " ".join(d), "s") for i, d in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    naive: dict[str, list[int]] = {}
    for i, d in enumerate(docs):
        naive.setdefault(" ".join(d[:k]), []).append(i)
    want = sorted((min(ids), len(ids))
                  for ids in naive.values() if len(ids) >= 2)
    got = sorted((r.keep_id, r.n_docs)
                 for r in dedup_prefix(df, k_tokens=k).collect())
    assert got == want


# --------------------------------- r16: retention curve vs naive


_udays = st.lists(
    st.tuples(st.integers(min_value=1, max_value=5),    # user
              st.integers(min_value=0, max_value=9)),   # day offset
    min_size=1, max_size=25)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_udays)
def test_user_retention_curve_equals_naive(spark, pairs):
    """The distributed curve equals the per-user python fold: for
    every k ≥ 1, retained = users active exactly k days after their
    first day; eligible = users first seen ≥ k days before the
    horizon."""
    from data_ingestion_challenge_spark.operators.stats import (
        user_retention_curve,
    )
    base = dt.datetime(2024, 3, 1)
    rows = [(i, u, base + dt.timedelta(days=d))
            for i, (u, d) in enumerate(pairs)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp")
    days: dict[int, set[int]] = {}
    for u, d in pairs:
        days.setdefault(u, set()).add(d)
    horizon = max(d for _, d in pairs)
    first = {u: min(ds) for u, ds in days.items()}
    want = {}
    ks = {d - first[u] for u, ds in days.items() for d in ds
          if d - first[u] >= 1}
    for k in ks:
        retained = sum(1 for u, ds in days.items()
                       if first[u] + k in ds)
        eligible = sum(1 for u in days
                       if horizon - first[u] >= k)
        want[k] = (eligible, retained, round(retained / eligible, 6))
    got = {r.k_days: (r.n_eligible, r.n_retained, r.retained_ratio)
           for r in user_retention_curve(ev).collect()}
    assert got == want


# ------------------------------- r16: tenure bands vs naive


_tpairs = st.lists(
    st.tuples(st.integers(min_value=1, max_value=4),     # user
              st.integers(min_value=0, max_value=40),    # day offset
              st.integers(min_value=0, max_value=50)),   # value
    min_size=1, max_size=20)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_tpairs)
def test_value_by_user_tenure_equals_naive(spark, rows):
    from data_ingestion_challenge_spark.operators.stats import (
        value_by_user_tenure,
    )
    base = dt.datetime(2024, 5, 1)
    ev = spark.createDataFrame(
        [(i, u, base + dt.timedelta(days=d), float(v))
         for i, (u, d, v) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, value double")
    first = {}
    for u, d, _ in rows:
        first[u] = min(first.get(u, d), d)

    def band(t):
        return ("0d" if t == 0 else "1-7d" if t <= 7
                else "8-30d" if t <= 30 else "31d+")

    want = {}
    for u, d, v in rows:
        b = band(d - first[u])
        n, users, tot = want.get(b, (0, set(), 0))
        want[b] = (n + 1, users | {u}, tot + v)
    got = {r.tenure_band: (r.n_events, r.n_users, r.value_sum)
           for r in value_by_user_tenure(ev).collect()}
    assert got == {b: (n, len(us), round(float(t), 2))
                   for b, (n, us, t) in want.items()}


# --------------------------- r16: weekday profile vs naive


_orders = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),    # day offset
              st.integers(min_value=1, max_value=999)),  # cents-ish
    min_size=1, max_size=20)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_orders)
def test_order_weekday_profile_equals_naive(spark, rows):
    """Epoch-mod-7 weekday: day 0 of the fixture (2024-01-04, a
    Thursday) must land in bucket 0 like 1970-01-01 did, and counts /
    exact revenue match a python fold."""
    from data_ingestion_challenge_spark.operators.stats import (
        order_weekday_profile,
    )
    base = dt.datetime(2024, 1, 4)  # Thursday -> weekday 0
    o = spark.createDataFrame(
        [(i, base + dt.timedelta(days=d), v / 10.0)
         for i, (d, v) in enumerate(rows)],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double")
    want = {}
    for d, v in rows:
        wd = d % 7
        n, tot = want.get(wd, (0, 0))
        want[wd] = (n + 1, tot + v)
    got = {r.weekday: (r.n_orders, r.revenue)
           for r in order_weekday_profile(o).collect()}
    assert got == {wd: (n, round(tot / 10.0, 2))
                   for wd, (n, tot) in want.items()}
