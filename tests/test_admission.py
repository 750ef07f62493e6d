"""Streaming document admission (streaming/admission.py): dedup
screening, exactly-once commit, replay idempotence, log contents."""

from __future__ import annotations

import json
import os

import pytest

from data_ingestion_challenge_spark.streaming.admission import (
    DOCS_SCHEMA, document_admission_sink, run_document_admission,
)


def _drop(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _doc(doc_id, text, lang="en", source="web"):
    return {"doc_id": doc_id, "text": text, "lang": lang,
            "source": source}


LONG_A = ("the quick brown fox jumps over the lazy dog while the "
          "moon rises slowly over the quiet hills tonight")
LONG_A_NEAR = ("the quick brown fox jumps over the lazy dog while the "
               "moon rises slowly over the quiet hills today")
NOVEL = ("completely unrelated content about distributed query "
         "engines shuffling partitioned columnar data at scale")
NOVEL_NEAR = ("completely unrelated content about distributed query "
              "engines shuffling partitioned columnar data at speed")


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k)
            for k in ("watch", "table", "postings", "log", "ckpt",
                      "sizes")}


def test_admission_end_to_end(spark, dirs):
    # Drop 1: two distinct docs + an intra-batch exact duplicate.
    _drop(os.path.join(dirs["watch"], "d1.jsonl"), [
        _doc(1, LONG_A), _doc(2, NOVEL), _doc(3, LONG_A)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    kept1 = {r.doc_id for r in table.read().collect()}
    assert kept1 == {1, 2}  # 3 = exact dup of 1, dropped in-batch

    # Drop 2: exact dup of corpus doc, near-dup of corpus doc,
    # genuinely novel doc.
    _drop(os.path.join(dirs["watch"], "d2.jsonl"), [
        _doc(10, LONG_A),        # exact corpus dup (doc 1) → rejected
        _doc(11, NOVEL_NEAR),    # near corpus dup (doc 2) → rejected
        _doc(12, "fresh words never seen before in any prior drop "
                 "of this admission pipeline test corpus")])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    kept2 = {r.doc_id for r in table.read().collect()}
    assert kept2 == {1, 2, 12}

    # Admission log: every arriving doc has a verdict row; the
    # corpus-screened rejects carry their dup target.
    log = {r.doc_id: r for r in
           spark.read.option("basePath", dirs["log"])
           .parquet(dirs["log"]).collect()}
    assert set(log) == {1, 2, 3, 10, 11, 12}
    assert log[10].kept is False and log[10].dup_of == 1
    assert log[11].kept is False and log[11].dup_of == 2
    assert log[11].jaccard < 1.0
    assert log[12].kept is True and log[12].dup_of is None
    assert log[3].kept is False  # in-batch drop: witness in-batch

    # Posting store: one partition per non-empty batch, only
    # admitted docs' postings.
    post = (spark.read.option("basePath", dirs["postings"])
            .parquet(dirs["postings"]))
    assert {r.doc_id for r in
            post.select("doc_id").distinct().collect()} == {1, 2, 12}


def test_admission_replay_is_exactly_once(spark, dirs):
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    b1 = spark.createDataFrame(
        [(1, LONG_A, "en", "web"), (2, NOVEL, "en", "web")],
        DOCS_SCHEMA)
    admit(b1, 0)
    v_after = table.version()
    admit(b1, 0)  # crash-replay of the same micro-batch
    assert table.version() == v_after
    assert {r.doc_id for r in table.read().collect()} == {1, 2}

    # Replay after a crash BETWEEN posting-write and commit: the
    # batch's own postings exist but its commit does not — the rerun
    # must still admit the docs (self-match guard).
    b2 = spark.createDataFrame(
        [(5, "another body of text with enough words to shingle "
             "into plenty of three gram sequences", "en", "web")],
        DOCS_SCHEMA)
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import _postings
    from data_ingestion_challenge_spark.streaming.admission import (
        N_SHINGLE_BUCKETS,
    )
    p = _postings(b2, 3)
    (p.withColumn("s_bucket",
                  F.pmod(F.hash("s"), F.lit(N_SHINGLE_BUCKETS)))
     .write.mode("overwrite").partitionBy("s_bucket")
     .parquet(os.path.join(dirs["postings"], "ingest_batch=1")))
    p.unpersist()
    admit(b2, 1)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 5}


def test_engine_ingest_documents(spark, dirs):
    from data_ingestion_challenge_spark.api import Engine
    from tests.conftest import SF_DIR

    _drop(os.path.join(dirs["watch"], "d.jsonl"),
          [_doc(7, LONG_A), _doc(8, LONG_A)])
    eng = Engine(SF_DIR, spark=spark)
    table = eng.ingest_documents(
        dirs["watch"], dirs["table"], dirs["postings"], dirs["log"],
        dirs["ckpt"], sizes_dir=dirs["sizes"])
    assert {r.doc_id for r in table.read().collect()} == {7}


def test_sizes_store_and_bucket_pruning(spark, dirs, tmp_path):
    """With a sizes store maintained, screen results are identical,
    and the corpus-posting scan actually prunes to the batch's
    shingle buckets (fewer input files than the full store)."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.streaming.admission import (
        N_SHINGLE_BUCKETS,
    )

    sizes_dir = str(tmp_path / "sizes")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=sizes_dir)
    admit(spark.createDataFrame(
        [(1, LONG_A, "en", "web"), (2, NOVEL, "en", "web")],
        DOCS_SCHEMA), 0)
    # Sizes store carries full per-doc shingle counts.
    sizes = {r.doc_id: r.n for r in
             spark.read.option("basePath", sizes_dir)
             .parquet(sizes_dir).collect()}
    assert set(sizes) == {1, 2} and all(v > 0 for v in sizes.values())

    admit(spark.createDataFrame(
        [(9, LONG_A, "en", "web"),
         (10, "wholly distinct payload with no overlap at all in any "
              "three gram window of either admitted doc", "en", "web")],
        DOCS_SCHEMA), 1)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 10}
    log = {r.doc_id: r for r in
           spark.read.parquet(
               os.path.join(dirs["log"], "ingest_batch=1")).collect()}
    assert log[9].kept is False and log[9].dup_of == 1

    # Pruning evidence: the bucket-filtered corpus read touches fewer
    # files than the full store (LONG_A yields far fewer shingle
    # buckets than the store's total partition count).
    raw = (spark.read.option("basePath", dirs["postings"])
           .parquet(dirs["postings"]))
    batch = spark.createDataFrame([(99, LONG_A, "en", "web")],
                                  DOCS_SCHEMA)
    from data_ingestion_challenge_spark.operators.dedup import _postings
    bp = _postings(batch, 3)
    buckets = [r[0] for r in bp.select(
        F.pmod(F.hash("s"), F.lit(N_SHINGLE_BUCKETS)).alias("b"))
        .distinct().collect()]
    bp.unpersist()
    # Partition-level pruning: the isin lands in the scan's
    # PartitionFilters (directories skipped, not rows filtered).
    import re
    plan = (raw.where(F.col("s_bucket").isin(buckets))
            ._jdf.queryExecution().executedPlan().toString())
    assert re.search(r"PartitionFilters: \[[^\]]*s_bucket", plan), plan


def test_fresh_checkpoint_restart_does_not_lose_docs(spark, dirs,
                                                     tmp_path):
    """A stream restarted with a FRESH checkpoint replays every file
    as batch 0: the run-scoped replay gate must re-screen them (old
    docs re-reject as corpus dups) instead of skipping the batch
    whole and silently discarding the genuinely new documents in it —
    and the new run's maintenance partitions must not overwrite the
    old run's."""
    _drop(os.path.join(dirs["watch"], "d1.jsonl"),
          [_doc(1, LONG_A), _doc(2, NOVEL)])
    run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])

    _drop(os.path.join(dirs["watch"], "d2.jsonl"),
          [_doc(30, "a brand new batch of words that matches nothing "
                    "previously admitted into this corpus at all")])
    fresh_ckpt = str(tmp_path / "ckpt2")
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], fresh_ckpt, sizes_dir=dirs["sizes"])
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 30}
    # Old run's postings survive (no partition clobbering): every
    # admitted doc still has postings in the store.
    post_docs = {r.doc_id for r in
                 spark.read.option("basePath", dirs["postings"])
                 .parquet(dirs["postings"])
                 .select("doc_id").distinct().collect()}
    assert {1, 2, 30} <= post_docs


def test_partial_sizes_store_heals(spark, dirs):
    """Posting tags with no sizes twin — a compacted run that
    predates the sizes store and orphan increments left by a crash
    under a lost checkpoint, one of them file-less — are healed by
    the screen before it reads the sizes store: their docs stay dup
    targets, and the sizes store covers every posting tag afterwards
    (healed once, not re-derived from the postings on every batch)."""
    from data_ingestion_challenge_spark.operators.dedup import _postings
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, _write_postings_layout, store_bucket_mod,
    )

    mod = store_bucket_mod(dirs["postings"])  # stamp before any run
    for tag, doc in (("-1", (1, LONG_A)), ("deadrun-7", (2, NOVEL))):
        p = _postings(spark.createDataFrame(
            [(*doc, "en", "web")], DOCS_SCHEMA), 3)
        _write_postings_layout(
            p, os.path.join(dirs["postings"], f"ingest_batch={tag}"),
            mod, sort=False)
        p.unpersist()
    # ...and an orphan whose posting write died before any file landed
    os.makedirs(os.path.join(dirs["postings"], "ingest_batch=deadrun-8",
                             "_temporary", "0"))
    assert not os.path.exists(dirs["sizes"])
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    admit(spark.createDataFrame(
        [(9, LONG_A_NEAR, "en", "web"), (10, NOVEL_NEAR, "en", "web"),
         (11, FRESH_3, "en", "web")], DOCS_SCHEMA), 0)
    assert {r.doc_id for r in table.read().collect()} == {11}
    log = {r.doc_id: r for r in spark.read.parquet(
        os.path.join(dirs["log"], "ingest_batch=0")).collect()}
    assert log[9].dup_of == 1 and log[10].dup_of == 2
    assert _batch_tags(dirs["sizes"]) >= _batch_tags(dirs["postings"])
    # The healed sizes are the docs' full posting counts.
    post = (spark.read.option("basePath", dirs["postings"])
            .parquet(dirs["postings"]).groupBy("doc_id").count())
    sizes = (spark.read.option("basePath", dirs["sizes"])
             .parquet(dirs["sizes"]).select("doc_id", "n"))
    assert sorted(tuple(r) for r in post.collect()) \
        == sorted(tuple(r) for r in sizes.collect())


def test_one_corpus_size_source():
    """Static check of streaming/admission.py: the sizes store is a
    required part of every admission store, so no code compares
    ``sizes_dir`` with None and the required writers take it without
    a default; and no groupBy runs on the corpus store read (``raw``)
    — corpus sizes come from the sizes store, never from aggregating
    the posting store on every batch."""
    import ast
    import inspect

    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.streaming import admission

    with open(admission.__file__) as fh:
        tree = ast.parse(fh.read())

    def root(node):
        # the name a call/attribute receiver chain starts from
        while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
            node = node.func if isinstance(node, ast.Call) else node.value
        return node

    none_tests, raw_aggs = [], []
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            sides = [node.left, *node.comparators]
            if (any(isinstance(x, ast.Name) and x.id == "sizes_dir"
                    for x in sides)
                    and any(isinstance(x, ast.Constant)
                            and x.value is None for x in sides)):
                none_tests.append(node.lineno)
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "groupBy"):
            r = root(node.func.value)
            if isinstance(r, ast.Name) and r.id == "raw":
                raw_aggs.append(node.lineno)
    assert none_tests == [], none_tests
    assert raw_aggs == [], raw_aggs
    for fn in (admission.document_admission_sink,
               admission.run_document_admission,
               admission.compact_store_in_place,
               Engine.ingest_documents,
               Engine.compact_admission_in_place):
        p = inspect.signature(fn).parameters["sizes_dir"]
        assert p.default is inspect.Parameter.empty, fn.__name__


def test_meta_less_bucketed_store_refused(spark, tmp_path):
    """A store that already holds partitions but whose meta file is
    gone must RAISE, not be stamped: the modulus is unrecoverable.
    Three inputs — partitions carrying s_bucket= subdirs (meta lost),
    flat pre-bucketing ingest_batch= partitions (the retired legacy
    layout, which used to be stamped flat), and a flat store whose
    meta pins no modulus."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import _postings
    from data_ingestion_challenge_spark.streaming.admission import (
        _META, N_SHINGLE_BUCKETS, store_bucket_mod,
    )

    docs = spark.createDataFrame([(1, LONG_A, "en", "web")],
                                 DOCS_SCHEMA)
    p = _postings(docs, 3)
    try:
        for layout in ("bucketed", "flat", "flat_stamped"):
            store = str(tmp_path / layout)
            run = os.path.join(store, "ingest_batch=0")
            if layout == "bucketed":
                (p.withColumn("s_bucket",
                              F.pmod(F.hash("s"),
                                     F.lit(N_SHINGLE_BUCKETS)))
                 .write.mode("overwrite").partitionBy("s_bucket")
                 .parquet(run))
            else:
                p.write.mode("overwrite").parquet(run)
            if layout == "flat_stamped":
                with open(os.path.join(store, _META), "w") as fh:
                    json.dump({"s_bucket_mod": None}, fh)
            else:
                assert not os.path.exists(os.path.join(store, _META))
            with pytest.raises(ValueError, match="s_bucket"):
                store_bucket_mod(store)
            # nothing was stamped over the refused store
            if layout != "flat_stamped":
                assert not os.path.exists(os.path.join(store, _META))
    finally:
        p.unpersist()


def test_store_modulus_pinned_against_constant_change(spark, dirs,
                                                      monkeypatch):
    """The stored s_bucket modulus, not the current constant, drives
    both pruning and new writes: raising N_SHINGLE_BUCKETS on an
    existing store must not hide corpus shingles behind mismatched
    bucket ids (which would admit true duplicates)."""
    import data_ingestion_challenge_spark.streaming.admission as adm

    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    admit(spark.createDataFrame([(1, LONG_A, "en", "web")],
                                DOCS_SCHEMA), 0)
    monkeypatch.setattr(adm, "N_SHINGLE_BUCKETS", 4096)
    admit2, table2 = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    admit2(spark.createDataFrame([(9, LONG_A, "en", "web")],
                                 DOCS_SCHEMA), 1)
    assert {r.doc_id for r in table2.read().collect()} == {1}


def test_admission_lease_blocks_second_stream(spark, dirs, tmp_path):
    """Two concurrent admission streams over one posting store: the
    second must raise ConcurrentAdmissionError (a live screen cannot
    see the other's in-flight admissions — silently double-admitting
    duplicates is the failure the lease exists to prevent), and the
    corpus must hold no duplicate.  A released lease admits again; a
    STALE lease (dead holder pid) is stolen."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _LEASE, ConcurrentAdmissionError, _acquire_admission_lease,
        release_admission_lease, run_document_admission,
    )

    _drop(os.path.join(dirs["watch"], "d1.jsonl"), [_doc(1, LONG_A)])
    # Simulate stream A holding the lease mid-drain.
    lease = _acquire_admission_lease(dirs["postings"])
    with pytest.raises(ConcurrentAdmissionError, match="already live"):
        run_document_admission(
            spark, dirs["watch"], dirs["table"], dirs["postings"],
            dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    release_admission_lease(lease)
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    assert {r.doc_id for r in table.read().collect()} == {1}
    # The drain released its lease on exit...
    assert not os.path.exists(os.path.join(dirs["postings"], _LEASE))
    # ...and a stale lease from a DEAD holder is stolen, not fatal.
    import subprocess
    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(os.path.join(dirs["postings"], _LEASE), "w") as fh:
        fh.write(str(dead.pid))
    _drop(os.path.join(dirs["watch"], "d2.jsonl"), [_doc(2, NOVEL)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    assert {r.doc_id for r in table.read().collect()} == {1, 2}


def test_fused_screen_equals_separate_pipelines(spark):
    """_screen_pairs (one fused candidate+verify pass) must produce
    EXACTLY the pairs of two independent references: the in-batch
    PPJoin (ngram_jaccard_pairs on the batch alone) and a brute-force
    Python jaccard over every batch×corpus row pair — on a randomized
    corpus with planted near-dups, exact dups, short docs and a
    same-id batch/corpus collision."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import (
        _postings, _screen_pairs, ngram_jaccard_pairs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    corpus_rows, batch_rows = [], []
    for i in range(40):
        corpus_rows.append((i, doc(rng.randint(8, 30))))
    for j in range(40, 70):
        base = rng.choice(corpus_rows)[1]
        r = rng.random()
        if r < 0.3:      # near/exact dup of a corpus doc
            batch_rows.append((j, base + (" extra" if r < 0.15 else "")))
        elif r < 0.45:   # short doc (< n words: no shingles)
            batch_rows.append((j, "one two"))
        else:
            batch_rows.append((j, doc(rng.randint(8, 30))))
    # intra-batch near-dup pair + same-id collision with the corpus
    batch_rows.append((70, batch_rows[0][1] + " tail"))
    batch_rows.append((0, corpus_rows[0][1]))  # same id AND same text

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    tau = 0.8
    cp = _postings(corpus, 3)
    bp = _postings(batch, 3)
    caches = [cp, bp]
    try:
        bs = bp.groupBy("doc_id").agg(F.count("*").alias("n"))
        cs = cp.groupBy("doc_id").agg(F.count("*").alias("n"))
        fused = _screen_pairs(bp, bs, cp.select("doc_id", "s"), cs,
                              tau, caches=caches).collect()
        got_batch = {(r.doc_id, r.corpus_doc_id, r.jaccard)
                     for r in fused if not r._corp}
        got_corpus = {(r.doc_id, r.corpus_doc_id, r.jaccard)
                      for r in fused if r._corp}
        want_batch = {(r.doc_a, r.doc_b, r.jaccard)
                      for r in ngram_jaccard_pairs(
                          batch, n=3, tau=tau, posting=bp).collect()}
    finally:
        for h in caches:
            h.unpersist()

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    # Spark rounds HALF_UP; an exact decimal ratio rounds the same way
    want_corpus = set()
    for b_id, b_text in batch_rows:
        for c_id, c_text in corpus_rows:
            A, B = shingles(b_text), shingles(c_text)
            if A and B and len(A & B) / len(A | B) >= tau:
                jac = (Decimal(len(A & B)) / Decimal(len(A | B))
                       ).quantize(Decimal("0.0001"), ROUND_HALF_UP)
                want_corpus.add((b_id, c_id, float(jac)))
    assert got_batch == want_batch and want_batch  # planted pair found
    assert got_corpus == want_corpus and want_corpus
    # the same-id same-text collision surfaces as a corpus self-match
    assert (0, 0, 1.0) in got_corpus


def test_ratify_broadcast_guard_falls_back_to_shuffle(spark,
                                                      monkeypatch):
    """The ratify join broadcasts the candidate-pair table only while
    it is genuinely near-dup-sized: above the row threshold it must
    fall back to a shuffle join (graceful degradation) and the pair
    values must be identical either way."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators import dedup

    batch = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g"), (3, "x y z w v")],
        "doc_id long, text string")
    bp = dedup._postings(batch, 3)
    caches = [bp]
    try:
        bs = bp.groupBy("doc_id").agg(F.count("*").alias("n"))

        def _pairs():
            return {(r.doc_id, r.corpus_doc_id, r.jaccard)
                    for r in dedup._screen_pairs(
                        bp, bs, None, None, 0.5,
                        caches=caches).collect()}

        want = _pairs()
        monkeypatch.setattr(dedup, "_PAIR_BROADCAST_MAX_ROWS", 0)
        assert _pairs() == want and want
    finally:
        for h in caches:
            h.unpersist()


def test_stale_empty_lease_ages_out(spark, dirs):
    """A lease left EMPTY by a holder that died between create and
    pid-write: treated as transient while fresh (another stream
    raises), stolen once older than the 60 s write window."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _LEASE, ConcurrentAdmissionError, _acquire_admission_lease,
        release_admission_lease,
    )

    os.makedirs(dirs["postings"], exist_ok=True)
    lease = os.path.join(dirs["postings"], _LEASE)
    open(lease, "w").close()  # torn: exists, no pid
    with pytest.raises(ConcurrentAdmissionError,
                       match="persistent contention"):
        _acquire_admission_lease(dirs["postings"])
    # Age it past the torn-write window: now stolen.
    old = os.path.getmtime(lease) - 120
    os.utime(lease, (old, old))
    got = _acquire_admission_lease(dirs["postings"])
    assert got == lease
    with open(lease) as fh:
        assert int(fh.read()) == os.getpid()
    release_admission_lease(got)


def test_release_only_unlinks_own_lease(spark, dirs):
    """release_admission_lease must be ownership-checked: after a
    manual lease removal plus a second stream's acquisition, the
    first stream's exit must NOT delete the second stream's live
    lease (that would silently re-open the double-screen window)."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _LEASE, _acquire_admission_lease, release_admission_lease,
    )

    os.makedirs(dirs["postings"], exist_ok=True)
    lease = os.path.join(dirs["postings"], _LEASE)
    # Another live stream's lease (pid != ours): release is a no-op.
    with open(lease, "w") as fh:
        fh.write(str(os.getpid() + 1))
    release_admission_lease(lease)
    assert os.path.exists(lease)
    os.unlink(lease)
    # Our own lease: release removes it.
    got = _acquire_admission_lease(dirs["postings"])
    release_admission_lease(got)
    assert not os.path.exists(lease)


def test_replay_with_missing_sizes_store_not_wedged(spark, dirs,
                                                    tmp_path):
    """Crash window: batch 0 wrote its postings but died before the
    sizes write and the commit.  The replay sees a posting store
    whose ONLY tag is its own and a sizes_dir that does not exist —
    with no other tag there is no corpus to screen against, so it
    must admit without reading the absent store."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import _postings
    from data_ingestion_challenge_spark.streaming.admission import (
        store_bucket_mod,
    )

    sizes_dir = str(tmp_path / "sizes_never_created")
    mod = store_bucket_mod(dirs["postings"])
    crashed = spark.createDataFrame([(5, LONG_A, "en", "web")],
                                    DOCS_SCHEMA)
    p = _postings(crashed, 3)
    (p.withColumn("s_bucket", F.pmod(F.hash("s"), F.lit(mod)))
     .write.mode("overwrite").partitionBy("s_bucket")
     .parquet(os.path.join(dirs["postings"], "ingest_batch=0")))
    p.unpersist()
    assert not os.path.exists(sizes_dir)
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=sizes_dir)
    admit(crashed, 0)  # the replay — must not raise
    assert {r.doc_id for r in table.read().collect()} == {5}
    # and the sizes store exists now (written by the replay)
    assert os.path.isdir(os.path.join(sizes_dir, "ingest_batch=0"))


FRESH_3 = ("entirely new prose describing vectorized execution and "
           "columnar storage layouts for analytical workloads")
FRESH_4 = ("yet another novel passage on watermarking late events "
           "inside structured streaming state stores")


def test_auto_compaction_stream_length(spark, dirs, tmp_path):
    """compact_every: a long-lived stream folds its per-batch posting
    and sizes increments into the base partition in place, and the
    screen keeps rejecting duplicates across the fold (base postings
    are read exactly like increments)."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, run_document_admission,
    )

    sizes = str(tmp_path / "sizes")
    kw = dict(sizes_dir=sizes, compact_every=2)
    _drop(os.path.join(dirs["watch"], "d1.jsonl"),
          [_doc(1, LONG_A), _doc(2, NOVEL)])
    run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], **kw)
    assert "-1" not in _batch_tags(dirs["postings"])  # 1 inc: no fold
    _drop(os.path.join(dirs["watch"], "d2.jsonl"), [_doc(3, FRESH_3)])
    run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], **kw)
    # 2 increments reached → folded to the base, increments gone.
    assert _batch_tags(dirs["postings"]) == {"-1"}
    assert _batch_tags(sizes) == {"-1"}
    # Dups of pre-fold corpus docs still reject; novel still admits.
    _drop(os.path.join(dirs["watch"], "d3.jsonl"),
          [_doc(20, LONG_A_NEAR), _doc(21, NOVEL), _doc(22, FRESH_4)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], **kw)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3, 22}
    log = {r.doc_id: r for r in
           spark.read.option("basePath", dirs["log"])
           .parquet(dirs["log"]).collect()}
    assert log[20].kept is False and log[20].dup_of == 1
    assert log[21].kept is False and log[21].dup_of == 2
    # The base holds exactly the folded docs' postings, bucketed.
    base = os.path.join(dirs["postings"], "ingest_batch=-1")
    assert any(e.name.startswith("s_bucket=") for e in os.scandir(base))
    post = (spark.read.option("basePath", dirs["postings"])
            .parquet(dirs["postings"]))
    assert {r.doc_id for r in
            post.select("doc_id").distinct().collect()} == {1, 2, 3, 22}


def test_compaction_skips_uncommitted_tag(spark, dirs, tmp_path):
    """A tag whose batch never COMMITTED (crash between posting write
    and commit) must survive the fold untouched: folding it into the
    base would erase the same-tag replay exclusion and the replay
    would self-match its own survivors."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import _postings
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, compact_store_in_place, store_bucket_mod,
        run_document_admission,
    )

    sizes = str(tmp_path / "sizes")
    _drop(os.path.join(dirs["watch"], "d1.jsonl"),
          [_doc(1, LONG_A), _doc(2, NOVEL)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=sizes)
    _drop(os.path.join(dirs["watch"], "d2.jsonl"), [_doc(3, FRESH_3)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=sizes)
    # Hand-write an orphan increment: postings exist, no txn mark.
    mod = store_bucket_mod(dirs["postings"])
    orphan = _postings(
        spark.createDataFrame([(99, FRESH_4, "en", "web")],
                              DOCS_SCHEMA), 3)
    (orphan.withColumn("s_bucket", F.pmod(F.hash("s"), F.lit(mod)))
     .write.mode("overwrite").partitionBy("s_bucket")
     .parquet(os.path.join(dirs["postings"],
                           "ingest_batch=deadrun-7")))
    orphan.unpersist()
    n = compact_store_in_place(spark, dirs["postings"], table,
                               sizes_dir=sizes)
    assert n == 2
    assert _batch_tags(dirs["postings"]) == {"-1", "deadrun-7"}
    # Folded base covers the committed docs; the orphan's rows stayed
    # in its own partition only.
    base_docs = {r.doc_id for r in spark.read.parquet(
        os.path.join(dirs["postings"], "ingest_batch=-1"))
        .select("doc_id").distinct().collect()}
    assert base_docs == {1, 2, 3}


def test_compaction_crash_recovery(spark, dirs, tmp_path,
                                   monkeypatch):
    """Crash AFTER the manifest publish but before the swap: the
    store still holds every increment plus the staged base.  The
    next sink build must complete the swap (recover_compaction)
    before any screen — afterwards the store is exactly the folded
    state and duplicates still reject."""
    from data_ingestion_challenge_spark.streaming import admission as A

    sizes = str(tmp_path / "sizes")
    _drop(os.path.join(dirs["watch"], "d1.jsonl"),
          [_doc(1, LONG_A), _doc(2, NOVEL)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=sizes)
    _drop(os.path.join(dirs["watch"], "d2.jsonl"), [_doc(3, FRESH_3)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=sizes)

    crashed = RuntimeError("simulated crash mid-swap")

    def _boom(*a, **kw):
        raise crashed

    monkeypatch.setattr(A, "_finish_swap", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        A.compact_store_in_place(spark, dirs["postings"], table,
                                 sizes_dir=sizes)
    monkeypatch.undo()
    # Manifest published, swap unexecuted: increments + staged base.
    assert os.path.exists(os.path.join(dirs["postings"],
                                       A._COMPACT_MANIFEST))
    assert "-1" not in A._batch_tags(dirs["postings"])
    # The next drain heals it at sink build, before screening...
    _drop(os.path.join(dirs["watch"], "d3.jsonl"),
          [_doc(20, LONG_A_NEAR), _doc(22, FRESH_4)])
    table = run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=sizes)
    assert not os.path.exists(os.path.join(dirs["postings"],
                                           A._COMPACT_MANIFEST))
    assert "-1" in A._batch_tags(dirs["postings"])
    # ...so the near-dup of a FOLDED corpus doc still rejects.
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3, 22}


def test_compaction_equivalence_with_uncompacted(spark, dirs,
                                                 tmp_path):
    """Same drops through two sinks — one compacting after every
    batch, one never — must produce byte-identical admission verdicts
    and corpora: compaction is pure maintenance, invisible to
    semantics."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, document_admission_sink,
    )

    docs = [(1, LONG_A), (2, NOVEL), (3, FRESH_3),
            (10, LONG_A_NEAR),          # near-dup of 1 (cross-batch)
            (11, NOVEL), (12, FRESH_4),  # exact dup of 2 + novel
            (20, FRESH_3), (21, LONG_A)]  # exact dups across batches
    batches = [docs[:3], docs[3:6], docs[6:]]

    def _run(base, compact_every):
        d = {k: str(base / k)
             for k in ("table", "postings", "log", "sizes")}
        admit, table = document_admission_sink(
            spark, d["table"], d["postings"], d["log"],
            sizes_dir=d["sizes"], compact_every=compact_every)
        for b, rows in enumerate(batches):
            admit(spark.createDataFrame(
                [(i, t, "en", "web") for i, t in rows], DOCS_SCHEMA),
                b)
        log = (spark.read.option("basePath", d["log"])
               .parquet(d["log"])
               .select("doc_id", "kept", "dup_of", "jaccard"))
        return (d, sorted(tuple(r) for r in log.collect()),
                {r.doc_id for r in table.read().collect()})

    d1, log1, corpus1 = _run(tmp_path / "compacted", 1)
    d2, log2, corpus2 = _run(tmp_path / "plain", None)
    assert log1 == log2
    assert corpus1 == corpus2 == {1, 2, 3, 12}
    # The compacting sink actually folded (batch 2 admits nothing —
    # both docs are exact corpus dups — so it writes no increment):
    # only compacted RUNS (negative tags, count bounded by the
    # stepped-merge geometric invariant) remain, vs the plain sink's
    # two increments.
    from data_ingestion_challenge_spark.streaming.admission import (
        _is_base,
    )
    tags1 = _batch_tags(d1["postings"])
    assert tags1 and all(_is_base(t) for t in tags1)
    assert len(tags1) <= 2
    assert len(_batch_tags(d2["postings"])) == 2


def test_tiered_compaction_auto_then_major(spark, dirs, tmp_path):
    """LSM tiering: an auto fold collapses fresh increments smaller
    than _MAJOR_RATIO × the -1 run into a new -2 run WITHOUT touching
    a byte of the major base (that is the whole point — O(recent)
    maintenance, not O(corpus)); a major fold then merges both runs;
    screens stay correct across every tier state."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, compact_store_in_place, document_admission_sink,
    )

    sizes = str(tmp_path / "sizes")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=sizes)
    admit(spark.createDataFrame(
        [(1, LONG_A, "en", "web"), (2, NOVEL, "en", "web")],
        DOCS_SCHEMA), 0)
    assert compact_store_in_place(spark, dirs["postings"], table,
                                  sizes_dir=sizes,
                                  level="major") == 1
    base = os.path.join(dirs["postings"], "ingest_batch=-1")

    def _inventory(d):
        return sorted((os.path.relpath(os.path.join(r, f), d),
                       os.path.getsize(os.path.join(r, f)))
                      for r, _, fs in os.walk(d) for f in fs)

    before = _inventory(base)
    admit(spark.createDataFrame(
        [(3, FRESH_3, "en", "web")], DOCS_SCHEMA), 1)
    assert compact_store_in_place(spark, dirs["postings"], table,
                                  sizes_dir=sizes,
                                  level="auto") == 1
    assert _batch_tags(dirs["postings"]) == {"-1", "-2"}
    assert _batch_tags(sizes) == {"-1", "-2"}
    assert _inventory(base) == before  # major base untouched
    # Screen across the tiered store: dups of docs in EITHER base
    # reject, novel admits.
    admit(spark.createDataFrame(
        [(10, LONG_A, "en", "web"),    # dup of -1 run doc 1
         (11, FRESH_3, "en", "web"),   # dup of -2 run doc 3
         (12, FRESH_4, "en", "web")], DOCS_SCHEMA), 2)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3, 12}
    # Major fold merges both bases + the new increment.
    assert compact_store_in_place(spark, dirs["postings"], table,
                                  sizes_dir=sizes,
                                  level="major") == 1
    assert _batch_tags(dirs["postings"]) == {"-1"}
    base_docs = {r.doc_id for r in spark.read.parquet(base)
                 .select("doc_id").distinct().collect()}
    assert base_docs == {1, 2, 3, 12}
    # And the merged store still screens correctly.
    admit(spark.createDataFrame(
        [(20, NOVEL, "en", "web")], DOCS_SCHEMA), 3)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3, 12}


def test_swap_crash_point_enumeration(tmp_path):
    """Exhaustive crash-window check for the compaction swap, pure
    filesystem (no Spark): simulate a crash after EVERY prefix of the
    publish sequence (manifest → delete tag A → delete tag B → rename
    base → unlink manifest) and assert recover_compaction always
    converges to the identical fully-folded layout with no data dir
    lost or duplicated."""
    import shutil

    from data_ingestion_challenge_spark.streaming.admission import (
        _COMPACT_MANIFEST, _COMPACTING, recover_compaction,
    )

    def _mk(base_tag="-2"):
        """Store with a major base, two folded increments, one orphan,
        plus the staged -2 run and a published manifest."""
        store = tmp_path / f"store_{_mk.n}"
        _mk.n += 1
        for tag, payload in [("-1", "major"), ("a-1", "inc1"),
                             ("a-2", "inc2"), ("orph-9", "orphan")]:
            d = store / f"ingest_batch={tag}"
            d.mkdir(parents=True)
            (d / "part-0.parquet").write_text(payload)
        staged = store / _COMPACTING / f"ingest_batch={base_tag}"
        staged.mkdir(parents=True)
        (staged / "part-0.parquet").write_text("folded")
        (store / _COMPACT_MANIFEST).write_text(json.dumps(
            {"postings": ["a-1", "a-2"], "sizes": [],
             "sizes_dir": None, "base_tag": base_tag}))
        return store

    _mk.n = 0

    def _layout(store):
        return sorted(
            str(p.relative_to(store)) + ":" + p.read_text()
            for p in store.rglob("part-0.parquet"))

    # Ground truth: recovery straight from the published manifest.
    ref = _mk()
    assert recover_compaction(str(ref))
    want = _layout(ref)
    assert want == sorted([
        "ingest_batch=-1/part-0.parquet:major",
        "ingest_batch=-2/part-0.parquet:folded",
        "ingest_batch=orph-9/part-0.parquet:orphan"])

    # Crash after each additional publish step.
    def _steps(store):
        yield  # crash right after manifest publish
        shutil.rmtree(store / "ingest_batch=a-1")
        yield
        shutil.rmtree(store / "ingest_batch=a-2")
        yield
        os.rename(store / _COMPACTING / "ingest_batch=-2",
                  store / "ingest_batch=-2")
        yield

    n_points = 0
    for k in range(4):
        store = _mk()
        it = _steps(store)
        for _ in range(k + 1):
            next(it)
        recover_compaction(str(store))
        assert _layout(store) == want, f"crash point {k}"
        assert not (store / _COMPACT_MANIFEST).exists()
        n_points += 1
    assert n_points == 4

    # Major-fold variant: old bases deleted, promoted base replaces
    # the major; the orphan still survives.
    store = tmp_path / "store_major"
    for tag, payload in [("-1", "major"), ("-2", "small"),
                         ("b-1", "inc"), ("orph-9", "orphan")]:
        d = store / f"ingest_batch={tag}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_text(payload)
    staged = store / _COMPACTING / "ingest_batch=-1"
    staged.mkdir(parents=True)
    (staged / "part-0.parquet").write_text("merged")
    (store / _COMPACT_MANIFEST).write_text(json.dumps(
        {"postings": ["-1", "-2", "b-1"], "sizes": [],
         "sizes_dir": None, "base_tag": "-1"}))
    assert recover_compaction(str(store))
    assert _layout(store) == sorted([
        "ingest_batch=-1/part-0.parquet:merged",
        "ingest_batch=orph-9/part-0.parquet:orphan"])


def test_swap_crash_points_with_sizes_store(tmp_path):
    """Crash-prefix enumeration for a fold whose manifest also names
    a SIZES swap: every prefix of (manifest → postings deletes →
    postings rename → sizes deletes → sizes rename) must recover to
    the identical folded layout in BOTH stores — a sizes store left
    half-swapped under-covers and silently admits missed dups."""
    import shutil

    from data_ingestion_challenge_spark.streaming.admission import (
        _COMPACT_MANIFEST, _COMPACTING, recover_compaction,
    )

    def _mk(i):
        post = tmp_path / f"p{i}"
        sizes = tmp_path / f"s{i}"
        for store, payload in ((post, "post"), (sizes, "size")):
            for tag in ("-1", "a-1", "a-2"):
                d = store / f"ingest_batch={tag}"
                d.mkdir(parents=True)
                (d / "part-0.parquet").write_text(f"{payload}:{tag}")
            staged = store / _COMPACTING / "ingest_batch=-2"
            staged.mkdir(parents=True)
            (staged / "part-0.parquet").write_text(f"{payload}:folded")
        (post / _COMPACT_MANIFEST).write_text(json.dumps(
            {"postings": ["a-1", "a-2"], "sizes": ["a-1", "a-2", "-2"],
             "sizes_dir": str(sizes), "base_tag": "-2"}))
        return post, sizes

    def _layout(store):
        return sorted(str(p.relative_to(store)) + ":" + p.read_text()
                      for p in store.rglob("part-0.parquet"))

    ref_p, ref_s = _mk("ref")
    assert recover_compaction(str(ref_p), str(ref_s))
    want_p, want_s = _layout(ref_p), _layout(ref_s)
    assert "ingest_batch=-2/part-0.parquet:post:folded" in want_p
    assert "ingest_batch=-2/part-0.parquet:size:folded" in want_s
    assert not any("a-1" in x or "a-2" in x for x in want_p + want_s)

    def _steps(post, sizes):
        yield
        shutil.rmtree(post / "ingest_batch=a-1")
        yield
        shutil.rmtree(post / "ingest_batch=a-2")
        yield
        os.rename(post / _COMPACTING / "ingest_batch=-2",
                  post / "ingest_batch=-2")
        yield
        shutil.rmtree(sizes / "ingest_batch=a-1")
        yield
        shutil.rmtree(sizes / "ingest_batch=a-2")
        yield
        # No pre-existing sizes -2 run: the swap's final step is the
        # bare rename (matching _finish_swap's conditional delete).
        os.rename(sizes / _COMPACTING / "ingest_batch=-2",
                  sizes / "ingest_batch=-2")
        yield

    for k in range(7):
        post, sizes = _mk(k)
        it = _steps(post, sizes)
        for _ in range(k + 1):
            next(it)
        # Recovery must work from the manifest alone even when the
        # caller cannot supply sizes_dir (sink restart with changed
        # config): pass None for odd crash points.
        recover_compaction(str(post),
                           str(sizes) if k % 2 == 0 else None)
        assert _layout(post) == want_p, f"crash point {k} (postings)"
        assert _layout(sizes) == want_s, f"crash point {k} (sizes)"
        assert not (post / _COMPACT_MANIFEST).exists()


def test_stepped_merge_run_invariant(spark, dirs, tmp_path):
    """Stepped merge keeps the store as a SMALL set of compacted runs
    as batches keep arriving (the geometric invariant: every run <
    _MAJOR_RATIO × the next-larger), instead of one increment per
    batch or one O(corpus) rewrite per batch — and the screen stays
    correct over the multi-run store."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, _is_base, document_admission_sink,
    )

    sizes = str(tmp_path / "sizes")
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=sizes, compact_every=1)
    texts = [LONG_A, NOVEL, FRESH_3, FRESH_4,
             "a fifth entirely distinct passage about broadcast "
             "joins and partition pruning in query planners"]
    for b, t in enumerate(texts):
        admit(spark.createDataFrame([(b, t, "en", "web")],
                                    DOCS_SCHEMA), b)
        tags = _batch_tags(dirs["postings"])
        assert all(_is_base(t_) for t_ in tags), tags
        assert len(tags) <= 3, tags  # log-bounded, never 5 increments
    # sizes store mirrors the run set (coverage invariant).
    assert _batch_tags(sizes) >= _batch_tags(dirs["postings"])
    # Screen across the multi-run store: dup rejects, novel admits.
    admit(spark.createDataFrame(
        [(10, LONG_A_NEAR, "en", "web"),
         (11, "and one final genuinely novel body of words to "
              "admit over the merged run set", "en", "web")],
        DOCS_SCHEMA), 5)
    assert {r.doc_id for r in table.read().collect()} \
        == {0, 1, 2, 3, 4, 11}


def test_engine_compact_admission_in_place(spark, dirs, tmp_path):
    """Facade binding: Engine.compact_admission_in_place takes the
    admission lease around the fold (a live stream's lease blocks
    it), folds committed increments, and the store still screens."""
    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.streaming.admission import (
        _acquire_admission_lease, _batch_tags, _is_base,
        ConcurrentAdmissionError, release_admission_lease,
    )
    from tests.conftest import SF_DIR

    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    admit(spark.createDataFrame(
        [(1, LONG_A, "en", "web"), (2, NOVEL, "en", "web")],
        DOCS_SCHEMA), 0)
    eng = Engine(SF_DIR, spark=spark)
    lease = _acquire_admission_lease(dirs["postings"])
    with pytest.raises(ConcurrentAdmissionError):
        eng.compact_admission_in_place(dirs["postings"],
                                       dirs["table"],
                                       sizes_dir=dirs["sizes"])
    release_admission_lease(lease)
    assert eng.compact_admission_in_place(dirs["postings"],
                                          dirs["table"],
                                          sizes_dir=dirs["sizes"]) == 1
    tags = _batch_tags(dirs["postings"])
    assert tags and all(_is_base(t) for t in tags)
    admit(spark.createDataFrame(
        [(9, LONG_A, "en", "web")], DOCS_SCHEMA), 1)
    assert {r.doc_id for r in table.read().collect()} == {1, 2}


def test_cascade_merges_violating_middle_pair(spark, dirs):
    """The stepped-merge cascade must establish the FULL geometric
    invariant: a ratio-violating pair in the MIDDLE of the size order
    (small run fine, mid ≥ ratio × big) gets merged even though the
    smallest pair is compliant — and the cascade runs even with ZERO
    new increments (healing a crashed mid-cascade run set)."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, _write_postings_layout, compact_store_in_place,
        store_bucket_mod,
    )
    from data_ingestion_challenge_spark.txn import TxnTable

    table = TxnTable.create(
        spark, dirs["table"],
        spark.createDataFrame([], DOCS_SCHEMA), key="doc_id")
    mod = store_bucket_mod(dirs["postings"])  # stamp before any run

    def _run(tag, lo, n):
        _write_postings_layout(
            spark.createDataFrame(
                [(i, f"shingle-{i}") for i in range(lo, lo + n)],
                "doc_id long, s string"),
            os.path.join(dirs["postings"], f"ingest_batch={tag}"),
            mod, sort=False)

    _run("-2", 0, 8000)        # big
    _run("-3", 10000, 5000)    # mid: ≥ 0.5 × big → violates
    _run("-4", 20000, 5)       # small: < 0.5 × mid → compliant
    n = compact_store_in_place(spark, dirs["postings"], table,
                               sizes_dir=dirs["sizes"], level="auto")
    assert n == 0  # no increments — pure maintenance
    assert _batch_tags(dirs["postings"]) == {"-2", "-4"}
    merged = spark.read.parquet(
        os.path.join(dirs["postings"], "ingest_batch=-2"))
    assert merged.count() == 13000


def test_dir_rows_warns_on_corrupt_footer(tmp_path):
    """A truncated parquet footer must under-count GRACEFULLY (the
    cadence tick can never wedge the stream) but NOT silently: the
    warning names the damaged file so a persistently-skewed merge
    ladder is diagnosable from the logs."""
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_challenge_spark.streaming.admission import (
        _dir_rows,
    )

    d = tmp_path / "run"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}),
                   str(d / "good.parquet"))
    (d / "bad.parquet").write_bytes(b"PAR1 this is not a footer")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _dir_rows(str(d)) == 3
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("bad.parquet" in m and "under-count" in m
               for m in msgs), msgs


def test_posting_store_stats(spark, dirs):
    """Engine.posting_store_stats reads the live store: one run per
    committed batch with metadata-only row counts, a non-empty df
    histogram whose posting mass equals the store row count, and a
    bucket-balance frame summing to the same total."""
    from data_ingestion_challenge_spark.api import Engine
    from data_ingestion_challenge_spark.streaming.admission import (
        N_SHINGLE_BUCKETS,
    )
    from tests.conftest import SF_DIR

    _drop(os.path.join(dirs["watch"], "d1.jsonl"),
          [_doc(1, LONG_A), _doc(2, NOVEL)])
    run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])
    _drop(os.path.join(dirs["watch"], "d2.jsonl"),
          [_doc(12, "fresh words never seen before in any prior "
                    "drop of this stats test corpus")])
    run_document_admission(
        spark, dirs["watch"], dirs["table"], dirs["postings"],
        dirs["log"], dirs["ckpt"], sizes_dir=dirs["sizes"])

    eng = Engine(SF_DIR, spark=spark)
    stats = eng.posting_store_stats(dirs["postings"],
                                    table_path=dirs["table"])
    total = (spark.read.option("basePath", dirs["postings"])
             .parquet(dirs["postings"]).count())
    assert len(stats["runs"]) == 2
    assert all(r["committed"] for r in stats["runs"])
    assert sum(r["rows"] for r in stats["runs"]) == total
    hist = stats["df_histogram"].collect()
    assert sum(r.total_postings for r in hist) == total
    assert all(r.df_bucket >= 0 for r in hist)
    assert stats["mod"] == N_SHINGLE_BUCKETS
    bal = stats["bucket_balance"].collect()
    assert sum(r.n_postings for r in bal) == total
    # committed is None without a table_path (flag unknowable)
    stats2 = eng.posting_store_stats(dirs["postings"])
    assert all(r["committed"] is None for r in stats2["runs"])


def test_screen_corpus_side_never_shuffles(spark, tmp_path):
    """The r9 scale contract of the fused screen: the corpus posting
    read reaches the batch-shingle semi join STREAMED — exactly one
    file scan of the store in the plan and no shuffle exchange
    anywhere on the corpus side (a broadcast exchange of the batch
    shingles is the only exchange allowed)."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.operators.dedup import (
        _batch_shingle_rel,
    )

    store = str(tmp_path / "postings")
    rows = [(i, f"s{i % 7}") for i in range(100)]
    (spark.createDataFrame(rows, "doc_id long, s string")
     .write.parquet(store))
    all_post = (spark.read.parquet(store)
                .withColumn("_corp", F.lit(True)))
    # Batch shingles arrive materialized in the sink (new_post is
    # persisted before the screen); mirror that here.
    bsh = (spark.createDataFrame([("s1",), ("s2",)], "s string")
           .localCheckpoint())
    rel = _batch_shingle_rel(all_post, bsh)
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Scan parquet") == 1
    assert "BroadcastExchange" in plan  # the batch side, not the corpus
    got = {(r.doc_id, r.s) for r in rel.collect()}
    assert got == {(i, f"s{i % 7}") for i in range(100)
                   if i % 7 in (1, 2)}


def test_append_commit_mode_equals_merge_mode(spark, tmp_path):
    """commit_mode='append' (TxnTable.append_run, the O(batch) LSM
    commit) must admit EXACTLY what merge mode admits across
    multi-batch drains with in-batch dups, corpus near-dups and a
    crash-replay — same corpus rows (latest-wins == MERGE outcome)
    and same admission logs; the append table then folds via
    compact_runs back to a windowless read with identical state."""
    import glob

    def _run(mode, root):
        d = {k: os.path.join(root, k)
             for k in ("watch", "table", "postings", "log", "sizes",
                       "ckpt")}
        _drop(os.path.join(d["watch"], "d1.jsonl"),
              [_doc(1, LONG_A), _doc(2, LONG_A_NEAR),  # near-dup pair
               _doc(3, NOVEL)])
        run_document_admission(
            spark, d["watch"], d["table"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], commit_mode=mode)
        _drop(os.path.join(d["watch"], "d2.jsonl"),
              [_doc(4, LONG_A),              # corpus dup -> rejected
               _doc(5, NOVEL + " fresh words appended here"),
               _doc(5, NOVEL + " fresh words appended here")])  # redeliver
        table = run_document_admission(
            spark, d["watch"], d["table"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], commit_mode=mode)
        # replay: nothing new -> no state change
        table = run_document_admission(
            spark, d["watch"], d["table"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], commit_mode=mode)
        rows = sorted(tuple(r) for r in table.read().collect())
        log = sorted(tuple(r) for r in
                     spark.read.option("basePath", d["log"])
                     .parquet(d["log"])
                     .drop("ingest_batch").collect())
        return table, rows, log

    tm, rows_m, log_m = _run("merge", str(tmp_path / "m"))
    ta, rows_a, log_a = _run("append", str(tmp_path / "a"))
    assert rows_a == rows_m
    assert log_a == log_m
    # the append table carries runs; folding restores merge-mode ops
    assert ta.compact_runs() is not None
    assert sorted(tuple(r) for r in ta.read().collect()) == rows_m
    plan = ta.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_append_drain_folds_run_ladder_on_cadence(spark, tmp_path):
    """A long batch train in append mode (the r10 default) keeps the
    corpus table's run-generation count BOUNDED via the in-admit
    compact_runs cadence: with compact_every=2 over 6 batches the
    ladder must have folded (a fold-runs/merge maintenance commit in
    the log) and the live generation count must stay below the batch
    count; reads stay correct throughout."""
    import json as _json

    from data_ingestion_challenge_spark.streaming.admission import (
        document_admission_sink,
    )

    d = {k: os.path.join(str(tmp_path), k)
         for k in ("table", "postings", "log", "sizes")}
    admit, table = document_admission_sink(
        spark, d["table"], d["postings"], d["log"],
        sizes_dir=d["sizes"], compact_every=2)
    texts = []
    for b in range(6):
        text = f"{NOVEL} batch {b} marker words " + " ".join(
            f"tok{b}_{i}" for i in range(12))
        texts.append((100 + b, text))
        admit(spark.createDataFrame(
            [(100 + b, text, "en", "web")],
            "doc_id long, text string, lang string, source string"),
            b)
    got = {r.doc_id: r.text for r in table.read().collect()}
    assert got == dict(texts)
    assert table.run_generations() < 6
    ops = []
    log_dir = os.path.join(d["table"], "_log")
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(log_dir, name)) as fh:
                ops.append(_json.load(fh).get("op"))
    assert "fold-runs" in ops or ops.count("merge") > 0
