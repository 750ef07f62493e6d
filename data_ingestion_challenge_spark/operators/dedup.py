"""Document deduplication family (SURVEY.md §2C).

Every variant is shuffle-disciplined for 100 TB:
- exact / fingerprint: one hash shuffle on the digest.
- n-gram Jaccard: prefix-filtered inverted-index equi-join (PPJoin
  flavor) — exact, never a cartesian, robust to hot shingles.
- MinHash+LSH: explode → k min-aggregates for the signature,
  candidates via equi-join on band keys, then exact-Jaccard
  verification on the candidates only (the 100 TB path).
- SimHash: 32-bit sketch; hamming≤r candidates via the block trick
  (r+1 blocks; a pair within distance r must match on ≥1 block).

All hashing is md5-derived (functions/hashing.py) so DuckDB oracles can
reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from data_ingestion_challenge_spark.functions import hashing as H
from data_ingestion_challenge_spark.functions import text as T


def exact_dedup(documents: DataFrame) -> DataFrame:
    return (
        documents.groupBy(F.md5(col("text")).alias("text_hash"))
        .agg(F.count("*").alias("dup_count"),
             F.min("doc_id").alias("keep_doc_id"))
    )


def _postings(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s): one row per DISTINCT word n-gram shingle per doc.

    Formulation matters: explode the position range FIRST, then build
    each shingle with codegen'd element_at/concat_ws, and dedupe with a
    relational distinct.  The natural array formulation
    (transform(sequence(...), slice+concat) + array_distinct) runs the
    lambda INTERPRETED per element — measured 4× slower at sf0.1.
    Short docs (< n words) vanish via explode of an empty range."""
    w = documents.select("doc_id", T.words(col("text")).alias("w"))
    idx = w.select(
        "doc_id", "w",
        F.explode(
            F.when(F.size("w") >= n,
                   F.sequence(F.lit(1), F.size("w") - (n - 1)))
            .otherwise(F.array().cast("array<int>"))).alias("i"))
    shingle = F.concat_ws(
        " ", *[F.element_at(col("w"), col("i") + j) for j in range(n)])
    # Reused 3-4× per dedup operator (sizes, prefix/bands, verify) —
    # persist so the split+explode+distinct pipeline runs once.  At
    # cluster scale this is the posting table you would checkpoint.
    return idx.select("doc_id", shingle.alias("s")).distinct().persist()


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame,
                        tau: float, keep_raw: bool = False) -> DataFrame:
    """(doc_a, doc_b, ic=|A∩B|) + per-doc set sizes → Jaccard ≥ tau.
    Postings are distinct, so the pair-join row count IS the
    intersection — no array materialization or re-intersection.
    keep_raw adds the UNROUNDED jaccard as `jaccard_raw` for callers
    that derive further arithmetic from it (error audits): deriving
    from the rounded value diverges from an oracle computing on the
    raw ratio whenever the true value sits near a rounding boundary."""
    sa = sizes.select(col("doc_id").alias("doc_a"), col("n").alias("_na"))
    sb = sizes.select(col("doc_id").alias("doc_b"), col("n").alias("_nb"))
    jac = col("ic") / (col("_na") + col("_nb") - col("ic"))
    cols = ["doc_a", "doc_b", F.round(jac, 4).alias("jaccard")]
    if keep_raw:
        cols.append(jac.alias("jaccard_raw"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= tau)
        .select(*cols)
    )


def build_prefix(posting: DataFrame, tau: float) -> DataFrame:
    """The PPJoin prefix table (doc_id, s, n, _pos): document
    frequency via groupBy+join (skew-safe), set size + rarity rank in
    ONE fused window spec, keep only the first ⌊(1-τ)·n⌋+1 shingles
    per doc.  Split out of ngram_jaccard_pairs so a deployment can
    MATERIALIZE it (Engine.materialize_prefix) next to the posting
    table — it is a pure function of (posting, τ) and the costliest
    stage of the jaccard pipeline (one full sort of the postings)."""
    eps = 1e-9
    dfreq = posting.groupBy("s").agg(F.count("*").alias("_df"))
    wspec = Window.partitionBy("doc_id").orderBy("_df", "s")
    pp = (
        posting.join(dfreq, "s")
        .withColumn("n", F.count("*").over(
            wspec.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
        .withColumn("_pos", F.row_number().over(wspec))
    )
    return (pp.where(col("_pos")
                     <= F.floor((1 - tau) * col("n") + eps) + 1)
            .select("doc_id", "s", "n", "_pos"))


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        tau: float = 0.8,
                        posting: DataFrame | None = None,
                        prefix: DataFrame | None = None) -> DataFrame:
    """Exact all-pairs Jaccard ≥ tau via PREFIX-FILTERED inverted index
    (PPJoin-style).

    A naive shingle self-join degenerates when the vocabulary is small
    (every hot shingle contributes |posting|² pairs — measured ~34M
    pair rows on the sf0.1 corpus).  Prefix filtering is the exact
    fix: order shingles by global document frequency (rarest first);
    if J(A,B) ≥ τ the two sets MUST share an element within each set's
    first ⌊(1-τ)·|set|⌋+1 shingles under that order, so only those
    prefixes are indexed.  Candidates then get exact verification —
    identical results to the naive join, no false negatives."""
    if posting is None:
        posting = _postings(documents, n)
    # Float roundoff guard: at J exactly = τ the bounds hit integers
    # (τ·n = 4 computes as 4.0000000000000002, ceil→5) and the filters
    # silently drop a true pair.  Every ε below LOOSENS a bound, so it
    # can only admit extra candidates — the exact verification still
    # decides membership; no false negatives, by construction.
    eps = 1e-9
    if prefix is None:
        # Document frequency via groupBy+join, NOT a window over s:
        # the groupBy partial-aggregates map-side (a hot shingle ships
        # one (s, count) row per map task, not its whole posting list
        # into a single window task), and the df table is
        # |vocab|-sized so AQE turns the join into a broadcast when it
        # fits — the skew-safe shape at 100 TB.  The doc_id windows
        # are fine: per-doc posting lists are bounded by doc length.
        # ONE window spec for both size and rank (see build_prefix) —
        # splitting them plans TWO full sorts of the posting table,
        # the r3 dedup_ngram_jaccard regression.
        prefix = build_prefix(posting, tau)
    # PPJoin candidate filters — both EXACT (no false negatives):
    #  length: J ≥ τ forces τ·|B| ≤ |A| (sizes within a τ band);
    #  positional: overlap can't exceed 1 + min(remaining suffix
    #  lengths), which must reach ⌈τ/(1+τ)·(|A|+|B|)⌉, the minimum
    #  intersection J ≥ τ implies.
    x, y = prefix.alias("x"), prefix.alias("y")
    nx, ny = col("x.n"), col("y.n")
    min_inter = F.ceil((tau / (1 + tau)) * (nx + ny) - eps)
    ubound = 1 + F.least(nx - col("x._pos"), ny - col("y._pos"))
    cand = (
        x.join(y, "s")
        .where((col("x.doc_id") < col("y.doc_id"))
               & (ny >= tau * nx - eps) & (nx >= tau * ny - eps)
               & (ubound >= min_inter))
        .select(col("x.doc_id").alias("doc_a"),
                col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = posting.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _verify_candidates(cand, posting, sizes, tau)


def _verify_candidates(cand: DataFrame, posting: DataFrame,
                       sizes: DataFrame, tau: float,
                       keep_raw: bool = False) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: expand doc_a's
    postings over its pairs, equi-join doc_b's postings — linear in
    candidate postings, never all-pairs."""
    pa = posting.join(cand, posting.doc_id == cand.doc_a) \
                .select("doc_a", "doc_b", "s")
    pb = posting.select(col("doc_id").alias("_db"), col("s").alias("_sb"))
    inter = (
        pa.join(pb, (col("doc_b") == col("_db")) & (col("s") == col("_sb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ic"))
    )
    return _jaccard_from_inter(inter, sizes, tau, keep_raw=keep_raw)


def build_signatures(posting: DataFrame, k: int = 16) -> DataFrame:
    """The MinHash signature table (doc_id, m0..m{k-1}): one row per
    doc, k bigint minima.  Split out of minhash_lsh_pairs so a
    deployment can MATERIALIZE it (Engine.materialize_signatures) —
    at 100 TB the signatures are ~100 B/doc, ~10⁴× smaller than the
    postings they derive from, and every LSH banding/estimate audit
    rereads them instead of re-hashing the corpus.

    Computed via explode → k min-aggregates, NOT nested higher-order
    functions: Catalyst does no CSE inside lambda expressions, so an
    array-fold formulation re-evaluates the md5 of every shingle once
    per hash function (~16-60× blowup, measured 58s → 3s at sf0.1).
    Exploding evaluates md5 exactly once per (doc, shingle); the k
    mins ride one map-side-combined groupBy."""
    hashed = posting.select("doc_id", H.h32(col("s")).alias("h"))
    return hashed.groupBy("doc_id").agg(*[
        F.min((F.lit(a) * col("h") + F.lit(b)) % F.lit(H.MINHASH_P))
        .alias(f"m{i}")
        for i, (a, b) in enumerate(H.minhash_params(k))])


def minhash_lsh_pairs(documents: DataFrame, n: int = 3, k: int = 16,
                      bands: int = 8, tau: float = 0.8,
                      posting: DataFrame | None = None,
                      sig: DataFrame | None = None) -> DataFrame:
    """MinHash signature + banded LSH + exact verification (scale
    path).  Signature construction notes: see build_signatures; pass
    a materialized sig= to skip it (postings are still needed for the
    exact-Jaccard verify of candidates)."""
    rows = k // bands
    if posting is None:
        posting = _postings(documents, n)
    if sig is None:
        sig = build_signatures(posting, k)
    band_cols = [
        F.concat_ws(":", F.lit(str(b)),
                    *[col(f"m{b * rows + r}").cast("string")
                      for r in range(rows)])
        for b in range(bands)]
    bandrows = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bkey"))
    cand = (
        bandrows.alias("x").join(bandrows.alias("y"), "bkey")
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").alias("doc_a"),
                col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = posting.groupBy("doc_id").agg(F.count("*").alias("n"))
    return _verify_candidates(cand, posting, sizes, tau)


def source_minhash_overlap(documents: DataFrame, n: int = 3,
                           k: int = 16,
                           sig: DataFrame | None = None,
                           posting: DataFrame | None = None
                           ) -> DataFrame:
    """Per source-PAIR MinHash-estimated Jaccard of the sources'
    UNION shingle sets — the mixture-design audit that answers "which
    sources are re-crawls / mirrors of each other" BEFORE any per-doc
    dedup runs (dup_ratio_by_source tells you a source duplicates the
    corpus; this tells you which other source it duplicates).

    The estimator rides the per-DOC signature table: min over a
    source's docs of each per-doc minimum IS the MinHash of the
    source's shingle union (min is associative; duplicated shingles
    collapse), so with materialized signatures
    (Engine.materialize_signatures) the whole audit is one
    signature-table pass + a |sources|-row self-comparison — it never
    re-hashes the corpus.  est_jaccard = (#agreeing minima)/k, an
    exact multiple of 1/k (binary-exact, no rounding surface).

    Docs with < n words contribute no shingles hence no signature (the
    oracle's shingle CTE drops them identically); a source whose docs
    are ALL sub-n-gram has no row and appears in no pair."""
    if sig is None:
        if posting is None:
            posting = _postings(documents, n)
        sig = build_signatures(posting, k)
    src_sig = (sig.join(documents.select("doc_id", "source"), "doc_id")
               .groupBy("source")
               .agg(*[F.min(f"m{i}").alias(f"m{i}")
                      for i in range(k)]))
    from functools import reduce

    a, b = src_sig.alias("a"), src_sig.alias("b")
    n_agree = reduce(
        lambda x, y: x + y,
        [F.when(col(f"a.m{i}") == col(f"b.m{i}"), 1).otherwise(0)
         for i in range(k)])
    # |sources|² comparison of a |sources|-row aggregate — broadcast
    # nested loop on a model-sized table, never corpus-scale.
    return (a.join(F.broadcast(b), col("a.source") < col("b.source"))
            .select(col("a.source").alias("source_a"),
                    col("b.source").alias("source_b"),
                    n_agree.cast("bigint").alias("n_agree"),
                    F.round(n_agree / F.lit(float(k)), 6)
                    .alias("est_jaccard")))


def source_overlap_oracle_sql(sh_cte: str, mh_values: str,
                              k: int = 16,
                              minhash_p: int | None = None) -> str:
    """DuckDB twin of source_minhash_overlap: same md5-arithmetic
    minima grouped by SOURCE (min over all (doc, shingle) rows of a
    source equals min over the union set — duplicates collapse under
    min), same agree-count / k estimate."""
    p = minhash_p if minhash_p is not None else H.MINHASH_P
    return f"""
    WITH {sh_cte},
    hs AS (SELECT d2.source,
                  ('0x' || substr(md5(sh.s), 1, 8))::BIGINT AS h
           FROM sh JOIN documents d2 USING (doc_id)),
    params(i, a, b) AS (VALUES {mh_values}),
    sig AS (SELECT source, p.i, min((p.a * h + p.b) % {p}) AS m
            FROM hs CROSS JOIN params p GROUP BY source, p.i)
    SELECT x.source AS source_a, y.source AS source_b,
           CAST(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           round(sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END)
                 / {float(k)}, 6) AS est_jaccard
    FROM sig x JOIN sig y ON x.i = y.i AND x.source < y.source
    GROUP BY x.source, y.source
    """


def simhash_pairs(documents: DataFrame, n: int = 3,
                  max_hamming: int = 3,
                  posting: DataFrame | None = None) -> DataFrame:
    """SimHash near-dup candidates: 32-bit sketch split into
    (max_hamming+1) blocks; pigeonhole guarantees any pair within the
    radius matches on at least one block → equi-join, then exact
    hamming filter via bit_count(xor)."""
    nblocks = max_hamming + 1
    bits_per = 32 // nblocks
    if posting is None:
        posting = _postings(documents, n)
    # Hash once per posting, then 32 cheap conditional-sum aggregates
    # (one shuffle, map-side combined).
    hashed = posting.select(
        "doc_id", H.h32(col("s")).alias("h"))
    tallies = hashed.groupBy("doc_id").agg(*[
        F.sum(F.when(col("h").bitwiseAND(F.lit(1 << i)) != 0, 1)
              .otherwise(-1)).alias(f"t{i}")
        for i in range(32)])
    bit_sum = None
    for i in range(32):
        bit = F.when(col(f"t{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bit_sum = bit if bit_sum is None else bit_sum + bit
    sketch = tallies.select("doc_id", bit_sum.cast("long").alias("simhash"))
    blocks = sketch.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(i)),
                        F.shiftright(col("simhash"), i * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1)).cast("string"))
            for i in range(nblocks)])).alias("blk"))
    hamming = F.bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
    return (
        blocks.alias("x").join(blocks.alias("y"), "blk")
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").alias("doc_a"),
                col("y.doc_id").alias("doc_b"),
                hamming.alias("hamming"))
        .distinct()
        .where(col("hamming") <= max_hamming)
    )


def fingerprint_dedup(documents: DataFrame) -> DataFrame:
    """Bag-of-words fingerprint: catches token-reordered duplicates that
    exact md5 misses; one shuffle on the fingerprint."""
    from pyspark.sql.window import Window
    fp = documents.select(
        "doc_id", T.bag_of_words_fingerprint(col("text")).alias("fp"))
    return fp.withColumn(
        "n_same_fp", F.count("*").over(Window.partitionBy("fp")))


def winnow_fingerprints(documents: DataFrame, n: int = 3,
                        w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every word n-gram, slide a w-gram window,
    keep each window's minimal hash (rightmost on ties), dedupe.
    Guarantees: any shared run of w+n-1 words between two docs yields a
    shared fingerprint, with ~2/(w+1) selection density.

    Spark-first: ONE shuffle on doc_id; the window minimum rides a
    rowsBetween(0, w-1) frame, and rightmost-tie selection is a struct
    min over (h, -pos) — no w× row expansion (the oracle's range join
    exists only for SQL clarity)."""
    wds = documents.select("doc_id", T.words(col("text")).alias("w"))
    idx = wds.select(
        "doc_id", "w",
        F.explode(
            F.when(F.size("w") >= n,
                   F.sequence(F.lit(1), F.size("w") - (n - 1)))
            .otherwise(F.array().cast("array<int>"))).alias("pos"))
    shingle = F.concat_ws(
        " ", *[F.element_at(col("w"), col("pos") + j) for j in range(n)])
    grams = idx.select("doc_id", "pos", H.h32(shingle).alias("h"))

    dwin = Window.partitionBy("doc_id")
    frame = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(0, w - 1))
    sel = (
        grams
        .withColumn("_n", F.count("*").over(dwin))
        .withColumn("_m", F.min(F.struct(col("h"),
                                         (-col("pos")).alias("np")))
                    .over(frame))
        .where(col("pos") <= F.greatest(col("_n") - w + 1, F.lit(1)))
    )
    return (sel.select("doc_id", col("_m.h").alias("fp_hash"),
                       (-col("_m.np")).alias("fp_pos"))
            .distinct())


def char_gram_hashes(documents: DataFrame, k: int = 20) -> DataFrame:
    """(doc_id, gh): md5 of the k-CHARACTER gram at EVERY character
    offset of `text` — the any-position exact-match index.  Two texts
    share a verbatim character run of length ≥ k iff they share at
    least one k-gram, with no word-alignment or sampling caveat (the
    winnowing index is word-aligned and window-sampled).

    Scale shape: |text| rows per doc — O(total corpus chars), the same
    asymptotic budget a suffix-array build (Lee et al. §4) pays, as a
    zero-shuffle narrow map.  Same explode-the-position-range
    formulation as _postings: codegen'd substring per row, never a
    higher-order lambda (interpreted + re-evaluated per reference)."""
    idx = documents.select(
        "doc_id", "text",
        F.explode(
            F.when(F.length("text") >= k,
                   F.sequence(F.lit(1), F.length("text") - (k - 1)))
            .otherwise(F.array().cast("array<int>"))).alias("i"))
    return idx.select(
        "doc_id",
        F.md5(F.expr(f"substring(text, i, {k})")).alias("gh"))


def benchmark_overlap(posting: DataFrame, bench_pred,
                      tau: float = 0.5) -> DataFrame:
    """Decontamination: share of each doc's distinct shingles that also
    occur in a benchmark/eval set (Lee et al.-style n-gram overlap).

    ``posting`` is the shared (doc_id, s) shingle table; ``bench_pred``
    is a Column predicate on doc_id selecting the benchmark members.

    Spark-first scale shape: the benchmark shingle vocabulary is tiny
    relative to the corpus (eval sets are fixed-size; the corpus is the
    100 TB side), so it is DISTINCT-ed and broadcast — the corpus-side
    posting table is scanned once with a broadcast LEFT SEMI-shaped
    mark (left join + flag) and aggregated per doc.  No corpus shuffle
    beyond the per-doc groupBy, which reuses the posting partitioning."""
    bench_sh = (posting.where(bench_pred)
                .select(col("s").alias("bs")).distinct())
    corpus = posting.where(~bench_pred)
    marked = corpus.join(F.broadcast(bench_sh),
                         corpus["s"] == bench_sh["bs"], "left")
    per_doc = (marked.groupBy("doc_id")
               .agg(F.count("*").alias("n_shingles"),
                    F.count("bs").alias("n_overlap")))
    share = F.round(col("n_overlap") / col("n_shingles"), 4)
    return per_doc.select(
        "doc_id", "n_shingles", "n_overlap", share.alias("overlap_share"),
        (col("n_overlap") / col("n_shingles") >= tau).alias("contaminated"))


def winnow_fps_oracle_cte(n: int = 3, w: int = 4) -> str:
    """The ONE relational restatement of winnow_fingerprints for DuckDB
    oracles, parameterized on (n, w): expand each window start p over
    its w grams (range join), take the min hash and the rightmost
    position attaining it.  Ends with table `sel(doc_id, p, mh, mpos)`;
    callers select fingerprints from it.  Every winnow-based oracle
    (doc_winnow_fingerprints, doc_containment, decontaminate_substring)
    builds on this so the model can never drift between them."""
    return f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               CAST(unnest(range(1, greatest(len(t) - {n - 2}, 1))) AS INT) AS pos,
               t
        FROM toks WHERE len(t) >= {n}
    ), hashed AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(array_to_string(t[pos:pos+{n - 1}], ' ')), 1, 8))::BIGINT AS h
        FROM grams
    ), counts AS (
        SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id
    ), expanded AS (
        SELECT g.doc_id, p.pos AS p, g.pos, g.h
        FROM hashed g
        JOIN hashed p ON g.doc_id = p.doc_id
                     AND g.pos BETWEEN p.pos AND p.pos + {w - 1}
        JOIN counts c ON c.doc_id = g.doc_id
        WHERE p.pos <= greatest(c.n - {w - 1}, 1)
    ), wmin AS (
        SELECT doc_id, p, min(h) AS mh FROM expanded GROUP BY doc_id, p
    ), sel AS (
        SELECT e.doc_id, e.p, w.mh, max(e.pos) AS mpos
        FROM expanded e
        JOIN wmin w ON e.doc_id = w.doc_id AND e.p = w.p AND e.h = w.mh
        GROUP BY e.doc_id, e.p, w.mh
    )"""


# ------------------------------------------------ incremental (ingest)

# Ratify-join safety valve: above this many candidate pairs the pair
# table is no longer "near-dup-sized" and its broadcast could exceed
# the driver/broadcast memory limit — fall back to a shuffle join
# (graceful degradation instead of a failed micro-batch).  ~1M rows of
# (4 longs + bool) is tens of MB broadcast-side, comfortably inside
# default executor memory.
_PAIR_BROADCAST_MAX_ROWS = 1_000_000


def _batch_shingle_rel(all_post: DataFrame,
                       bsh: DataFrame) -> DataFrame:
    """The screen's corpus-side single-scan contract, factored so its
    plan shape is independently auditable: the (corpus ∪ batch)
    posting frame streams through ONE broadcast left-semi join
    against the batch shingle set and is never shuffled — no
    `Exchange hashpartitioning` may ever sit between the posting
    store's file scan and this join (tests/test_admission.py pins
    it).  The survivors are batch-df-bounded, so every downstream
    exchange of the screen is batch-bounded too."""
    return all_post.join(F.broadcast(bsh), "s", "left_semi")


def _screen_pairs(new_post: DataFrame, batch_sizes: DataFrame,
                  corpus_post: DataFrame | None,
                  corpus_sizes: DataFrame | None,
                  tau: float, caches: list) -> DataFrame:
    """THE batch-vs-stored near-duplicate screen: ONE candidate+verify
    pass finds batch-vs-batch near-dup pairs AND batch-vs-corpus
    matches — (doc_id, corpus_doc_id, _corp, jaccard), where _corp
    marks a corpus-side match.  The streaming admission sink and
    incremental_dedup_verdict (the registered gate and
    Engine.dedup_incoming) both run it.

    Correctness of the ONE-SIDED prefix: it is order-free — for ANY
    subset S of A with |S| = |A| − ⌈τ·|A|⌉ + 1, J(A,B) ≥ τ forces
    S ∩ (A∩B) ≠ ∅ (else A∩B fits in the remaining ⌈τ|A|⌉ − 1
    elements), so indexing each batch doc's prefix once against
    corpus ∪ batch postings admits every true pair of BOTH kinds; the
    exact verify decides membership, making the screen value-identical
    to an in-batch PPJoin plus a full batch×corpus join (pinned by
    tests/test_admission.py).  Rarity ordering (document frequency
    over the batch's shingle occurrences) is a pure fan-out heuristic.

    The ``_corp`` marker rides the union so a corpus doc and a batch
    doc SHARING an id stay distinct sets: the re-ingested-id case
    must still surface as a corpus match, while a batch doc never
    matches its own postings.

    Runs Spark jobs eagerly (``rel`` is checkpointed, the candidate
    pairs counted); every frame it persists joins ``caches``, for the
    caller to unpersist once the result is materialized."""
    eps = 1e-9
    bpost = new_post.select("doc_id", "s", F.lit(False).alias("_corp"))
    if corpus_post is not None:
        all_post = corpus_post.select(
            "doc_id", "s", F.lit(True).alias("_corp")
        ).unionByName(bpost)
        all_sizes = corpus_sizes.select(
            "doc_id", "n", F.lit(True).alias("_corp")
        ).unionByName(batch_sizes.select(
            "doc_id", "n", F.lit(False).alias("_corp")))
    else:
        all_post = bpost
        all_sizes = batch_sizes.select(
            "doc_id", "n", F.lit(False).alias("_corp"))
    # THE scale contract of the fused screen: the corpus posting set
    # is scanned ONCE, semi-filtered down to the batch's shingles by
    # a BROADCAST of the batch shingle set, and never shuffled — only
    # the surviving `rel` rows (corpus occurrences of batch shingles,
    # batch-df-bounded) flow into the downstream shuffles, which are
    # therefore all batch-bounded (no corpus self-join, no corpus
    # exchange by `s`).  The other broadcasts build on small
    # frames: the rarity lookup (dfreq) and the candidate join's
    # prefix side are BATCH-bounded (each smaller than bsh), and the
    # final ratify join's pair table is near-dup-sized (broadcast only
    # under a row cap).  The frames that grow with corpus overlap
    # (rel, pa, the pre-ratify pair table) stay on shuffle joins ON
    # PURPOSE — broadcasting them was measured SLOWER (serial driver
    # collects).
    # Value-identical: dfreq is only ever looked up for batch
    # shingles, and the candidate / intersection joins can only match
    # on batch shingles.
    # No distinct() on the broadcast side: the semi join's broadcast
    # hash build collapses duplicates itself — a distinct here is one
    # extra batch shuffle per micro-batch for nothing.
    bsh = new_post.select("s")
    # Materialize rel EAGERLY (batch-df-bounded rows): the broadcast
    # exchanges below are prepared concurrently, and a lazily-cached
    # rel would be scanned once per concurrent subtree before the
    # cache populates — re-reading the corpus 2-3× per batch.
    _sc = new_post.sparkSession.sparkContext
    _sc.setJobDescription("admission screen: corpus rel semi-join")
    rel = _batch_shingle_rel(all_post, bsh).localCheckpoint()
    caches.append(rel)
    dfreq = rel.groupBy("s").agg(F.count("*").alias("_df"))
    # rel is checkpoint/cache-backed, so the planner sees no usable
    # size estimate for dfreq and would shuffle new_post by `s` to
    # join a frame bounded by the batch's DISTINCT shingles (smaller
    # than the bsh broadcast above).  Build on dfreq explicitly: the
    # batch posting table flows straight to its doc_id window
    # exchange — a scale-correct build side, wall-neutral at bench
    # geometry.
    dfreq = F.broadcast(dfreq)
    wspec = Window.partitionBy("doc_id").orderBy("_df", "s")
    ranked = (
        new_post.join(dfreq, "s", "left").fillna({"_df": 0})
        .withColumn("n", F.count("*").over(
            wspec.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
        .withColumn("_pos", F.row_number().over(wspec)))
    prefix = ranked.where(
        col("_pos") <= F.floor((1 - tau) * col("n") + eps) + 1)
    # Batch-batch candidates keep ONE direction only (_nid < _cid):
    # the one-sided bound holds from EACH side of a true pair, so
    # both directions always surface and keeping one is complete —
    # and halves the batch-pair verify work.  Corpus candidates keep
    # every (_nid, _cid), including equal ids (the re-ingested-id
    # case); a batch doc never pairs with its own batch postings.
    pre_side = prefix.select(col("doc_id").alias("_nid"), "s")
    # Prefix rows are a batch-bounded SUBSET of new_post (≈(1−τ)·|A|+1
    # rows per doc) — again smaller than the bsh broadcast — while the
    # rel side grows with corpus overlap.  Building on the prefix side
    # streams rel out of its cache with NO exchange by `s`.  The
    # GROWING frames (rel, pa, inter pre-ratify) stay on shuffle joins
    # on purpose.
    cand = (
        F.broadcast(pre_side)
        .join(rel.select(col("doc_id").alias("_cid"), "s",
                         col("_corp").alias("_ccorp")), "s")
        .where(col("_ccorp") | (col("_nid") < col("_cid")))
        .select("_nid", "_cid", "_ccorp").distinct())
    pa = (new_post.join(cand, new_post["doc_id"] == cand["_nid"])
          .select("_nid", "_cid", "_ccorp", "s"))
    pb = rel.select(col("doc_id").alias("_pb"),
                    col("s").alias("_sb"),
                    col("_corp").alias("_pbc"))
    inter = (
        pa.join(pb, (col("_cid") == col("_pb"))
                & (col("s") == col("_sb"))
                & (col("_ccorp") == col("_pbc")))
        .groupBy("_nid", "_cid", "_ccorp")
        .agg(F.count("*").alias("ic")))
    sz_new = batch_sizes.select(col("doc_id").alias("_nid"),
                                col("n").alias("_na"))
    sz_other = all_sizes.select(col("doc_id").alias("_cid"),
                                col("_corp").alias("_ccorp"),
                                col("n").alias("_nb"))
    jac = col("ic") / (col("_na") + col("_nb") - col("ic"))
    # inter (the ratified candidate pairs) is NEAR-DUP-SIZED on every
    # normal batch: broadcast it against the corpus-sized size store
    # so the ratify join streams `all_sizes` instead of shuffling it.
    # But the hint is only safe while that sizing assumption holds —
    # an adversarial/high-overlap batch can make the candidate-pair
    # table batch×corpus-overlap large, and an unconditional broadcast
    # would then blow the driver/broadcast limit and FAIL the
    # micro-batch where a shuffle join merely degrades.  inter is
    # materialized here anyway (the ratify join would otherwise
    # recompute the whole candidate pipeline), so the cardinality
    # check is a count over cached partitions; above the threshold
    # the join falls back to an ordinary shuffle join.
    _sc.setJobDescription("admission screen: candidate intersection")
    # persist + count: ONE job materializes the pair table AND yields
    # the guard cardinality (localCheckpoint's eager materialization
    # plus a separate cache-scan count() is two).  Lineage is kept,
    # but every downstream consumer reads the InMemoryRelation, so
    # nothing above this line re-executes.  The handle joins `caches`
    # BEFORE the count runs: a failed count must still leave the
    # caller able to unpersist it.
    inter = inter.persist()
    caches.append(inter)
    n_pairs = inter.count()
    pair_side = inter.join(F.broadcast(sz_new), "_nid")
    if n_pairs <= _PAIR_BROADCAST_MAX_ROWS:
        pair_side = F.broadcast(pair_side)
    return (
        sz_other.join(pair_side, ["_cid", "_ccorp"])
        .where(jac >= tau)
        .select(col("_nid").alias("doc_id"),
                col("_cid").alias("corpus_doc_id"),
                col("_ccorp").alias("_corp"),
                F.round(jac, 4).alias("jaccard")))


def _best_corpus_match(pairs: DataFrame) -> DataFrame:
    """(doc_id, dup_of, jaccard): each batch doc's best CORPUS match
    among _screen_pairs' ``_corp`` rows — highest rounded jaccard,
    ties → lowest corpus_doc_id.  The one verdict rule of the
    admission sink's log and incremental_dedup_verdict (and of
    incremental_verdict_oracle_sql's ``best`` CTE)."""
    w = Window.partitionBy("doc_id").orderBy(
        col("jaccard").desc(), col("corpus_doc_id"))
    return (pairs.where(col("_corp"))
            .withColumn("_r", F.row_number().over(w))
            .where(col("_r") == 1)
            .select("doc_id", col("corpus_doc_id").alias("dup_of"),
                    "jaccard"))


def incremental_dedup_verdict(new_docs: DataFrame, posting: DataFrame,
                              n: int = 3, tau: float = 0.8
                              ) -> DataFrame:
    """INGEST-TIME dedup verdict per batch doc: (doc_id, is_dup,
    dup_of, jaccard) against the corpus behind ``posting`` (e.g. a
    table from Engine.materialize_postings) — the row an ingestion
    service writes to its admission log; dup_of = _best_corpus_match
    or NULL.  Runs the sink's screen (_screen_pairs) with full corpus
    sizes and keeps its corpus-side pairs.  The result is computed
    here (checkpoint-backed); every frame cached on the way is
    released before returning."""
    sc = new_docs.sparkSession.sparkContext
    label = sc.getLocalProperty("spark.job.description")
    new_post = _postings(new_docs, n)
    caches = [new_post]
    try:
        n_col = F.count("*").alias("n")
        pairs = _screen_pairs(
            new_post, new_post.groupBy("doc_id").agg(n_col),
            posting, posting.groupBy("doc_id").agg(n_col), tau,
            caches=caches)
        return (new_docs.select("doc_id")
                .join(_best_corpus_match(pairs), "doc_id", "left")
                .select("doc_id",
                        col("dup_of").isNotNull().alias("is_dup"),
                        "dup_of", "jaccard")
                .localCheckpoint())
    finally:
        for h in caches:
            h.unpersist()
        sc.setJobDescription(label)


def incremental_verdict_oracle_sql(batch_pred: str, n: int = 3,
                                   tau: float = 0.8) -> str:
    """DuckDB twin of incremental_dedup_verdict over the `documents`
    table split into batch rows (``batch_pred``) and corpus rows
    (its negation) — the oracle of the registered
    incremental_dedup_verdict query (plans/curation_q.py, batch =
    ``doc_id % 5 = 0``).  Columns and tie-breaks mirror the Spark op
    exactly: best match = highest ROUNDED jaccard, then lowest
    corpus_doc_id (_best_corpus_match)."""
    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') w
               FROM documents),
    b AS (SELECT doc_id FROM documents WHERE {batch_pred}),
    c AS (SELECT doc_id FROM documents WHERE NOT ({batch_pred})),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                      range(1, greatest(len(w) - {n - 2}, 1)),
                      i -> array_to_string(w[i:i+{n - 1}], ' '))))
                      AS s
           FROM d),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT bs.doc_id AS doc_id, cs.doc_id AS corpus_doc_id,
                     count(*) AS ic
              FROM sh bs JOIN b ON bs.doc_id = b.doc_id
              JOIN sh cs ON cs.s = bs.s
              JOIN c ON cs.doc_id = c.doc_id
              GROUP BY bs.doc_id, cs.doc_id),
    jac AS (SELECT pairs.doc_id AS doc_id, pairs.corpus_doc_id
                       AS corpus_doc_id,
                   round(ic / (sa.n + sb.n - ic), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = pairs.doc_id
            JOIN sizes sb ON sb.doc_id = pairs.corpus_doc_id
            WHERE ic / (sa.n + sb.n - ic) >= {tau}),
    best AS (SELECT doc_id, corpus_doc_id, jaccard,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY jaccard DESC,
                                                corpus_doc_id) AS r
             FROM jac)
    SELECT b.doc_id,
           best.corpus_doc_id IS NOT NULL AS is_dup,
           best.corpus_doc_id AS dup_of,
           best.jaccard
    FROM b LEFT JOIN best ON best.doc_id = b.doc_id AND best.r = 1
    """


# ------------------------------------------------- LSH band planning

def lsh_collision_prob(tau: float, bands: int, rows: int) -> float:
    """S-curve: P(candidate | J = tau) = 1 − (1 − tau^rows)^bands —
    the banded-LSH collision probability both the Spark plan and the
    DuckDB oracle emit as the SAME Python-computed literal (no
    cross-engine pow drift possible)."""
    return round(1.0 - (1.0 - tau ** rows) ** bands, 6)


def lsh_band_planner(documents: DataFrame | None = None, k: int = 16,
                     bandings: tuple[int, ...] = (16, 8, 4, 2),
                     taus: tuple[float, ...] = (0.5, 0.6, 0.7,
                                                0.8, 0.9),
                     n: int = 3,
                     posting: DataFrame | None = None,
                     sig: DataFrame | None = None) -> DataFrame:
    """The LSH TUNING artifact: one row per candidate banding of a
    k-hash MinHash signature — (bands, rows, n_candidates,
    p_at_<tau>…) — combining the THEORETICAL S-curve (what collision
    probability each banding gives at each jaccard level) with the
    MEASURED candidate-pair count on the actual corpus signatures
    (what each banding would cost to verify).  This is the table a
    deployment reads before picking (bands, rows) for a 100 TB dedup
    run: the S-curve bounds the false-negative rate at the target τ,
    the measured count bounds the verify bill.

    Scale shape: the signature table is ~100 B/doc (maintained via
    Engine.materialize_signatures — pass ``sig=``); per banding the
    candidate count is one explode + equi-self-join + distinct-count
    over band keys, the identical join the production pipeline runs.
    The |bandings| variants share one signature scan each; everything
    is signature-sized, never corpus-sized."""
    from functools import reduce

    if sig is None:
        if posting is None:
            posting = _postings(documents, n)
        sig = build_signatures(posting, k)
    outs = []
    for b in bandings:
        if k % b:
            raise ValueError(f"bands={b} does not divide k={k}")
        r = k // b
        band_cols = [
            F.concat_ws(":", F.lit(str(i)),
                        *[col(f"m{i * r + j}").cast("string")
                          for j in range(r)])
            for i in range(b)]
        bandrows = sig.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("bkey"))
        cand = (bandrows.alias("x").join(bandrows.alias("y"), "bkey")
                .where(col("x.doc_id") < col("y.doc_id"))
                .select(col("x.doc_id").alias("a"),
                        col("y.doc_id").alias("bb"))
                .distinct())
        row = cand.agg(F.count("*").alias("n_candidates")).select(
            F.lit(b).alias("bands"), F.lit(r).alias("rows"),
            col("n_candidates"),
            *[F.lit(lsh_collision_prob(t, b, r))
              .alias(f"p_at_{str(t).replace('.', '')}")
              for t in taus])
        outs.append(row)
    return reduce(lambda x, y: x.unionByName(y), outs)


def lsh_band_planner_oracle_sql(sh_cte: str, mh_values: str,
                                k: int = 16,
                                bandings: tuple[int, ...] = (16, 8,
                                                             4, 2),
                                taus: tuple[float, ...] = (0.5, 0.6,
                                                           0.7, 0.8,
                                                           0.9),
                                minhash_p: int | None = None) -> str:
    """DuckDB twin: replays the md5-arithmetic signatures (the same
    ``sh_cte``/``mh_values`` fragments the registered minhash oracle
    uses), counts candidates per banding, and emits the IDENTICAL
    Python-computed S-curve literals."""
    p = minhash_p if minhash_p is not None else H.MINHASH_P
    selects = []
    for b in bandings:
        if k % b:
            # Mirror the Spark side: floor division would silently
            # build a DIFFERENT band structure and the two engines
            # would disagree without a clear error.
            raise ValueError(f"bands={b} does not divide k={k}")
        r = k // b
        # CAST: a bare decimal literal comes back as DECIMAL, which
        # the driver's value compare treats as a distinct type from
        # the Spark side's double.
        pcols = ", ".join(
            f"CAST({lsh_collision_prob(t, b, r)} AS DOUBLE) AS "
            f"p_at_{str(t).replace('.', '')}" for t in taus)
        selects.append(f"""
        SELECT {b} AS bands, {r} AS rows,
               (SELECT count(*) FROM (
                   SELECT DISTINCT x.doc_id, y.doc_id
                   FROM (SELECT doc_id, i // {r} AS bi,
                                string_agg(m, ':' ORDER BY i) AS bkey
                         FROM sig GROUP BY doc_id, i // {r}) x
                   JOIN (SELECT doc_id, i // {r} AS bi,
                                string_agg(m, ':' ORDER BY i) AS bkey
                         FROM sig GROUP BY doc_id, i // {r}) y
                     ON x.bi = y.bi AND x.bkey = y.bkey
                    AND x.doc_id < y.doc_id)) AS n_candidates,
               {pcols}""")
    body = " UNION ALL ".join(selects)
    return f"""
    WITH {sh_cte},
    hs AS (SELECT doc_id, s,
                  ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
           FROM sh),
    params(i, a, b) AS (VALUES {mh_values}),
    sig AS (SELECT doc_id, p.i,
                   min((p.a * h + p.b) % {p}) AS m
            FROM hs CROSS JOIN params p GROUP BY doc_id, p.i)
    {body}
    """


# --------------------------------------------- cross-doc boilerplate

def boilerplate_sentences(documents: DataFrame,
                          min_docs: int = 2,
                          top: int = 50) -> DataFrame:
    """Cross-document BOILERPLATE detector: '. '-split sentences (the
    registered intra_doc_dedup / doc_sentences_udtf semantics —
    empties dropped) that appear in ≥ ``min_docs`` DISTINCT docs,
    ranked by spread — the removal list a C4-style cleaning pass
    subtracts (nav bars, cookie banners, SSG footers).  Emits
    (sentence, n_docs, n_occurrences, doc_share); top-``top`` by
    (n_docs DESC, sentence ASC) for a deterministic artifact.

    Distinct from intra_doc_dedup (WITHIN one doc) and
    corpus_repeated_substrings (per-DOC char-gram ratio): this is the
    corpus-level removal table itself.  One shuffle on the sentence
    (map-side combined counts + distinct doc counts); the corpus-N
    scalar rides a 1-row broadcast."""
    sent = (documents
            .select("doc_id",
                    F.explode(F.split(col("text"), r"\. "))
                    .alias("sentence"))
            .where(col("sentence") != ""))
    n_docs_total = documents.agg(
        F.count("*").cast("double").alias("_nd"))
    agg = (sent.groupBy("sentence")
           .agg(F.countDistinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_occurrences"))
           .where(col("n_docs") >= min_docs))
    return (agg.crossJoin(F.broadcast(n_docs_total))
            .select("sentence", "n_docs", "n_occurrences",
                    F.round(col("n_docs") / col("_nd"), 4)
                    .alias("doc_share"))
            .orderBy(col("n_docs").desc(), "sentence")
            .limit(top))


def oracle_boilerplate_sentences(table: str = "documents",
                                 min_docs: int = 2,
                                 top: int = 50) -> str:
    """DuckDB twin of boilerplate_sentences."""
    return f"""
    WITH sent AS (
        SELECT doc_id, s AS sentence FROM (
            SELECT doc_id, unnest(string_split(text, '. ')) AS s
            FROM {table})
        WHERE s <> ''
    ),
    agg AS (SELECT sentence,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences
            FROM sent GROUP BY sentence
            HAVING count(DISTINCT doc_id) >= {min_docs})
    SELECT sentence, n_docs, n_occurrences,
           round(n_docs / (SELECT count(*)::DOUBLE FROM {table}), 4)
               AS doc_share
    FROM agg
    ORDER BY n_docs DESC, sentence LIMIT {top}
    """


def shingle_df_distribution(documents: DataFrame, n: int = 3,
                            posting: DataFrame | None = None
                            ) -> DataFrame:
    """Histogram of shingle document frequency in log2 buckets:
    (df_bucket = floor(log2(df)), n_shingles, total_postings) — the
    posting-store capacity-planning table.  The df tail tells you how
    skewed the inverted index is (a heavy bucket means hot shingle
    partitions and bloated candidate joins), what a df-cap (the
    doc_containment discipline) would drop, and how the prefix
    filter's selectivity will hold as the corpus grows.

    Exact integers end to end; floor(log2(df)) on an exact BIGINT df
    is exact for df < 2^53 in both engines (log2 of an integer ≥ 1
    lands strictly inside [k, k+1) except at powers of two, where the
    double is exact).

    Scale shape: rides the shared posting table; one
    map-side-combined groupBy(s) to df (vocab-of-shingles-sized) and
    one tiny groupBy(bucket) — linear, output ≤ ~50 rows."""
    if posting is None:
        posting = _postings(documents, n)
    df = posting.groupBy("s").agg(F.count("*").alias("df"))
    return (df.groupBy(F.floor(F.log2("df")).cast("int")
                       .alias("df_bucket"))
            .agg(F.count("*").alias("n_shingles"),
                 F.sum("df").alias("total_postings")))


def shingle_df_oracle_sql(sh_cte: str) -> str:
    """DuckDB twin of shingle_df_distribution over the shared shingle
    CTE: same exact df counts, same floor(log2) bucketing."""
    return f"""
    WITH {sh_cte},
    df AS (SELECT s, CAST(count(*) AS BIGINT) AS df
           FROM sh GROUP BY s)
    SELECT CAST(floor(log2(df)) AS INT) AS df_bucket,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS total_postings
    FROM df GROUP BY 1
    """


_PAIR_ORACLE_CTE = """
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
    inter AS (SELECT doc_a, doc_b, count(*) AS ic
              FROM cand
              JOIN sh a ON a.doc_id = doc_a
              JOIN sh b ON b.doc_id = doc_b AND a.s = b.s
              GROUP BY doc_a, doc_b),
    pairs AS (SELECT doc_a, doc_b
              FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE ic / (sa.n + sb.n - ic) >= {tau})
"""


def near_dup_source_crosstab(documents: DataFrame, n: int = 3,
                             tau: float = 0.8,
                             posting: DataFrame | None = None,
                             pairs: DataFrame | None = None
                             ) -> DataFrame:
    """Near-dup pair counts per UNORDERED source pair — which sources
    mirror / scrape / syndicate each other (the curation question
    behind source_minhash_overlap, answered with EXACT verified pairs
    instead of a sketch): (source_a ≤ source_b, n_pairs).  Rides the
    verified jaccard pair table; the source normalization
    (least/greatest) makes (a,b) and (b,a) one cell.

    Scale shape: the pair table is near-dup-sized; two equi-joins to
    the doc→source map (corpus-sized but key-unique) and a
    |sources|²-bounded groupBy — nothing quadratic anywhere."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, n=n, tau=tau,
                                    posting=posting)
    src = documents.select("doc_id", "source")
    j = (pairs
         .join(src.select(col("doc_id").alias("doc_a"),
                          col("source").alias("_sa")), "doc_a")
         .join(src.select(col("doc_id").alias("doc_b"),
                          col("source").alias("_sb")), "doc_b"))
    return (j.groupBy(
        F.least("_sa", "_sb").alias("source_a"),
        F.greatest("_sa", "_sb").alias("source_b"))
        .agg(F.count("*").alias("n_pairs")))


def near_dup_crosstab_oracle_sql(sh_cte: str, tau: float = 0.8) -> str:
    """DuckDB twin of near_dup_source_crosstab over the shared
    shingle CTE: same verified pair set, same least/greatest source
    normalization."""
    return f"""
    WITH {sh_cte},
    {_PAIR_ORACLE_CTE.format(tau=tau)}
    SELECT least(x.source, y.source) AS source_a,
           greatest(x.source, y.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents x ON x.doc_id = doc_a
    JOIN documents y ON y.doc_id = doc_b
    GROUP BY 1, 2
    """


def dup_degree_distribution(documents: DataFrame, n: int = 3,
                            tau: float = 0.8,
                            posting: DataFrame | None = None,
                            pairs: DataFrame | None = None
                            ) -> DataFrame:
    """Degree histogram of the near-dup pair graph: (degree, n_docs)
    where degree = number of verified pairs a doc participates in —
    the graph-shape audit read BEFORE running connected components
    (a heavy head means giant clusters: keep-best collapses whole
    families; a degree-1 world means simple pair drops suffice) and
    the capacity plan for the components' label-propagation rounds.

    Exact integers end to end.  Scale shape: union of the two pair
    endpoints (near-dup-sized), one groupBy(doc) then one tiny
    groupBy(degree)."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, n=n, tau=tau,
                                    posting=posting)
    deg = (pairs.select(col("doc_a").alias("doc_id"))
           .unionAll(pairs.select(col("doc_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count("*").alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count("*").alias("n_docs")))


def dup_degree_oracle_sql(sh_cte: str, tau: float = 0.8) -> str:
    """DuckDB twin of dup_degree_distribution over the shared shingle
    CTE: same verified pairs, both endpoints unioned, same exact
    histogram."""
    return f"""
    WITH {sh_cte},
    {_PAIR_ORACLE_CTE.format(tau=tau)},
    deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT doc_a AS doc_id FROM pairs
                  UNION ALL SELECT doc_b FROM pairs)
            GROUP BY doc_id)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """


# ------------------------------------------ simhash diagnostics (r14)


def simhash_hamming_histogram(documents: DataFrame, n: int = 3,
                              max_hamming: int = 3,
                              posting: DataFrame | None = None
                              ) -> DataFrame:
    """Hamming-distance histogram of the simhash CANDIDATE pairs:
    (hamming, n_pairs) for distances ≤ the radius — the
    radius-tuning table read before committing to a max_hamming (a
    cliff between 2 and 3 says the corpus separates cleanly; a flat
    ramp says the radius is cutting through a near-dup continuum).
    Rides simhash_pairs' pigeonhole block join (never all pairs);
    output ≤ max_hamming+1 rows."""
    return (simhash_pairs(documents, n=n, max_hamming=max_hamming,
                          posting=posting)
            .groupBy(col("hamming").cast("int").alias("hamming"))
            .agg(F.count("*").alias("n_pairs")))


def simhash_hamming_oracle_sql(sh_cte: str,
                               max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_hamming_histogram: the same md5-derived
    h32 per shingle, ±1 bit tallies → 32-bit sketch, all-pairs
    bit_count(xor) ≤ r (fine at oracle SF), aggregated to the
    histogram."""
    tallies = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS t{i}"
        for i in range(32))
    bits = " + ".join(
        f"CASE WHEN t{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END"
        for i in range(32))
    return f"""
    WITH {sh_cte},
    hashed AS (SELECT doc_id,
                      ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
               FROM sh),
    tallies AS (SELECT doc_id, {tallies} FROM hashed GROUP BY doc_id),
    sk AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash
           FROM tallies),
    hp AS (SELECT bit_count(xor(x.simhash, y.simhash)) AS hamming
           FROM sk x JOIN sk y ON x.doc_id < y.doc_id
           WHERE bit_count(xor(x.simhash, y.simhash))
                 <= {max_hamming})
    SELECT CAST(hamming AS INT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM hp GROUP BY 1
    """


# ------------------------------------------ prefix fingerprint (r16)


def dedup_prefix(documents: DataFrame, k_tokens: int = 16) -> DataFrame:
    """Prefix-duplicate groups: docs sharing an identical first-k-token
    prefix, reported as (prefix_hash, n_docs, keep_id, n_sources) for
    groups of ≥ 2 — the cheap screen for template/boilerplate dup
    families (mirror scrapes, generated pages, mailing-list footers
    promoted to headers) that exact-hash misses because tails differ
    and shingle dedup prices at full-text cost.  keep_id is the
    smallest doc_id (the repo's deterministic keeper rule);
    n_sources > 1 flags cross-provider template reuse.

    Exact by construction: md5 of the space-rejoined first
    min(k, len) tokens — the same string both engines build (split
    keeps empty tokens identically; slice/list-bounds semantics
    agree).  Scale shape: one linear tokenize+hash scan (no shingle
    explosion — ONE row per doc), one groupBy(prefix) with map-side
    combine, HAVING ≥ 2; output is dup-family-sized."""
    pref = F.md5(F.array_join(
        F.slice(T.words(col("text")), 1, k_tokens), " "))
    return (documents
            .select(pref.alias("prefix_hash"), "doc_id", "source")
            .groupBy("prefix_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_id"),
                 F.countDistinct("source").alias("n_sources"))
            .where(col("n_docs") >= 2))


def dedup_prefix_oracle_sql(k_tokens: int = 16) -> str:
    """DuckDB twin: list slicing `l[1:k]` clamps like Spark's slice;
    string_split keeps empty tokens like F.split."""
    return f"""
    SELECT md5(array_to_string(string_split(text, ' ')[1:{k_tokens}],
               ' ')) AS prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY 1 HAVING count(*) >= 2
    """


def dup_rate_by_length_bucket(documents: DataFrame, n: int = 3,
                              tau: float = 0.8,
                              posting: DataFrame | None = None,
                              pairs: DataFrame | None = None
                              ) -> DataFrame:
    """Near-dup incidence by document LENGTH: per floor(log2(n_chars))
    bucket, how many docs exist and what fraction participates in at
    least one verified near-dup pair — the length-bias audit read
    before committing to a dedup policy (shingle dedup over-fires on
    short docs, whose shingle sets are small; a rate cliff at the low
    buckets says raise the length floor or the τ for short docs
    rather than globally).

    Exact integers end to end (floor(log2) on BIGINT n_chars — the
    shingle_df_distribution precedent, except n_chars has no df≥1
    guarantee: an empty doc is legal, and log2(0) RAISES in DuckDB
    while Spark yields NULL, so both engines bucket through
    greatest(n_chars, 1) — empty docs land in bucket 0); the rate is
    ONE double divide at 6dp.  Scale shape: pair endpoints are
    near-dup-sized, one distinct + one broadcast-able join onto the
    docs scan, one tiny groupBy(bucket) — linear in documents."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents, n=n, tau=tau,
                                    posting=posting)
    dups = (pairs.select(col("doc_a").alias("doc_id"))
            .unionAll(pairs.select(col("doc_b").alias("doc_id")))
            .distinct()
            .withColumn("_dup", F.lit(1)))
    j = (documents.select("doc_id", "n_chars")
         .join(dups, "doc_id", "left"))
    return (j.groupBy(F.floor(F.log2(F.greatest(col("n_chars"),
                                                F.lit(1))))
                      .cast("int").alias("len_bucket"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce(col("_dup"), F.lit(0)))
                 .cast("bigint").alias("n_dup_docs"))
            .withColumn("dup_rate",
                        F.round(1.0 * col("n_dup_docs")
                                / col("n_docs"), 6)))


def dup_rate_by_length_oracle_sql(sh_cte: str,
                                  tau: float = 0.8) -> str:
    """DuckDB twin of dup_rate_by_length_bucket over the shared
    shingle CTE: same verified pairs, same distinct endpoints, same
    exact bucketing and single-divide rate."""
    return f"""
    WITH {sh_cte},
    {_PAIR_ORACLE_CTE.format(tau=tau)},
    dups AS (SELECT DISTINCT doc_id FROM
             (SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs))
    SELECT CAST(floor(log2(greatest(n_chars, 1))) AS INT)
               AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dups.doc_id) AS BIGINT) AS n_dup_docs,
           round(1.0 * count(dups.doc_id) / count(*), 6) AS dup_rate
    FROM documents LEFT JOIN dups USING (doc_id)
    GROUP BY 1
    """
