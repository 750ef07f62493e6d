"""Bloom sidecars for the admission posting store
(streaming/sidecar.py — screen lever #2 from docs/SCREEN_SCALING.md).

The load-bearing properties, in test order: (1) NO FALSE NEGATIVES —
every shingle present in a run must hit its sidecar (a false negative
would silently admit a true duplicate); (2) disjoint runs are
actually skipped (the lever does something); (3) folds build/refresh
sidecars and drop folded-away ones; (4) admissions are bit-identical
with and without sidecars; (5) every degraded state — corrupt file,
stale fingerprint after a tag-reusing rewrite, missing file — falls
back to the full scan and never changes a verdict."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import data_ingestion_challenge_spark.streaming.admission as adm
from data_ingestion_challenge_spark.operators.dedup import _batch_shingle_rel
from data_ingestion_challenge_spark.streaming import sidecar as sc


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k)
            for k in ("table", "postings", "log", "sizes")}


def _postings_df(spark, lo: int, n: int, prefix: str):
    """n posting rows with distinct shingles `<prefix><i>`."""
    return spark.range(lo, lo + n).select(
        (F.col("id") % 97).alias("doc_id"),
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("s"))


def _spark_hashes(spark, shingles: list[str]):
    """(h1u, h2u, h2i) for probe shingles, hashed BY SPARK — the same
    engine the sidecar build hashes with."""
    df = spark.createDataFrame([(s,) for s in shingles], "s string")
    rows = (df.select(F.xxhash64("s").alias("h1"),
                      F.hash("s").alias("h2")).toPandas())
    return (sc._as_u64(rows["h1"]), sc._as_u64(rows["h2"]),
            np.asarray(rows["h2"], dtype=np.int64))


def _write_run(spark, postings_dir, tag, df, mod=64):
    run = os.path.join(postings_dir, f"ingest_batch={tag}")
    adm._write_postings_layout(df, run, mod)
    if not os.path.exists(os.path.join(postings_dir, adm._META)):
        import json
        os.makedirs(postings_dir, exist_ok=True)
        with open(os.path.join(postings_dir, adm._META), "w") as fh:
            json.dump({"s_bucket_mod": mod}, fh)


def test_no_false_negatives_on_present_shingles(spark, tmp_path):
    """EVERY shingle stored in the run must hit the sidecar — this is
    the property the skip's correctness rests on (a false negative
    admits a true duplicate with zero signal)."""
    pdir = str(tmp_path / "p")
    mod = 16
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 5000, "sh"),
               mod)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    blooms = sc.load_run_sidecar(pdir, "-1")
    assert blooms is not None
    present = [f"sh{i}" for i in range(5000)]
    h1u, h2u, h2i = _spark_hashes(spark, present)
    bucket_of = (h2i % mod + mod) % mod
    hits = sc.hit_buckets(blooms, h1u, h2u, bucket_of)
    # every bucket that holds at least one present shingle must hit
    assert hits == set(int(b) for b in np.unique(bucket_of))
    # and per-shingle: probing each shingle alone must hit its bucket
    for i in range(0, 5000, 137):
        one = sc.hit_buckets(blooms, h1u[i:i + 1], h2u[i:i + 1],
                             bucket_of[i:i + 1])
        assert int(bucket_of[i]) in one, f"false negative at sh{i}"


def test_disjoint_probe_set_skips_everything(spark, tmp_path):
    """Probe shingles disjoint from the run's content hit NO bucket
    (deterministic given the fixed hash seeds; the 32-bits/key sizing
    exists exactly so ~1k probes per bucket survive)."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1",
               _postings_df(spark, 0, 20000, "stored"), 16)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    blooms = sc.load_run_sidecar(pdir, "-1")
    probes = [f"novel{i}" for i in range(2000)]
    h1u, h2u, h2i = _spark_hashes(spark, probes)
    bucket_of = (h2i % 16 + 16) % 16
    assert sc.hit_buckets(blooms, h1u, h2u, bucket_of) == set()


def test_fingerprint_survives_rename_not_rewrite(spark, tmp_path):
    """Relative-path fingerprints survive the compaction swap's
    staged→live rename but reject a content rewrite (the tag-reuse
    hazard: '-1' is rewritten by every major fold)."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 500, "a"), 8)
    run = os.path.join(pdir, "ingest_batch=-1")
    fp = sc.run_fingerprint(run)
    moved = os.path.join(pdir, "ingest_batch=-9")
    os.rename(run, moved)
    assert sc.run_fingerprint(moved) == fp
    os.rename(moved, run)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    assert sc.load_run_sidecar(pdir, "-1") is not None
    # rewrite the run in place (different content, same tag)
    shutil.rmtree(run)
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 600, "b"), 8)
    assert sc.load_run_sidecar(pdir, "-1") is None  # stale → rejected


def test_corrupt_sidecar_degrades_to_none(spark, tmp_path):
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 500, "a"), 8)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    path = sc.sidecar_path(pdir, "-1")
    with open(path, "r+b") as fh:  # truncate mid-file
        fh.truncate(os.path.getsize(path) // 2)
    assert sc.load_run_sidecar(pdir, "-1") is None


def _batch(spark, rows):
    return spark.createDataFrame(rows, adm.DOCS_SCHEMA)


_TEXTS = [
    ("the quick brown fox jumps over the lazy dog while the moon "
     "rises slowly over the quiet hills tonight"),
    ("completely unrelated content about distributed query engines "
     "shuffling partitioned columnar data at scale"),
    ("a third document describing bloom filter sidecars that let "
     "the admission screen skip shingle disjoint posting runs"),
]


def _drive(spark, dirs, blooms: bool):
    """Three batches through the sink with folds between them;
    returns (table rows, log rows) for equality comparison."""
    admit, table = adm.document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], compact_every=1,
        bloom_sidecars=blooms)
    b1 = [(i, _TEXTS[i % 3] + f" tail{i}", "en", "web")
          for i in range(12)]
    # batch 2: exact dups of batch 1, near-dups, and novel docs
    b2 = ([(100 + i, _TEXTS[i % 3] + f" tail{i}", "en", "web")
           for i in range(4)]
          + [(200 + i, _TEXTS[i % 3] + f" tail{i} extra", "en", "web")
             for i in range(4)]
          + [(300 + i, f"wholly new content block number {i} with "
              f"enough words to shingle meaningfully", "en", "web")
             for i in range(4)])
    b3 = [(400 + i, f"wholly new content block number {i} with "
           f"enough words to shingle meaningfully", "en", "web")
          for i in range(4)]  # corpus dups of b2's novel docs
    for bid, rows in enumerate((b1, b2, b3)):
        admit(_batch(spark, rows), bid)
    tbl = sorted((r.doc_id, r.text) for r in table.read().collect())
    log = sorted(
        (r.doc_id, r.kept, r.dup_of, r.jaccard)
        for r in spark.read.option("basePath", dirs["log"])
        .parquet(dirs["log"]).collect())
    return tbl, log


def test_admissions_bit_identical_with_and_without(spark, tmp_path):
    """The pinned invariant from the r14 verdict: sidecar skipping
    must be VERDICT-IDENTICAL — same admitted set, same log rows
    (kept/dup_of/jaccard), batch for batch."""
    d_on = {k: str(tmp_path / "on" / k)
            for k in ("table", "postings", "log", "sizes")}
    d_off = {k: str(tmp_path / "off" / k)
             for k in ("table", "postings", "log", "sizes")}
    tbl_on, log_on = _drive(spark, d_on, blooms=True)
    tbl_off, log_off = _drive(spark, d_off, blooms=False)
    assert tbl_on == tbl_off
    assert log_on == log_off
    # and the on-side actually produced sidecars for its folded runs
    assert glob.glob(os.path.join(d_on["postings"], sc.BLOOM_DIR,
                                  "*.npz"))
    assert not os.path.isdir(os.path.join(d_off["postings"],
                                          sc.BLOOM_DIR))


def test_fold_refreshes_sidecar_and_drops_folded(spark, dirs):
    admit, table = adm.document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"])
    admit(_batch(spark, [(1, _TEXTS[0], "en", "web")]), 0)
    admit(_batch(spark, [(2, _TEXTS[1], "en", "web")]), 1)
    # hand-plant a sidecar for an increment, as if it were a run that
    # a later fold consumes — the fold must drop it
    assert sc.build_run_sidecar(spark, dirs["postings"], "0")
    adm.compact_store_in_place(spark, dirs["postings"], table,
                               sizes_dir=dirs["sizes"], level="major")
    assert sc.load_run_sidecar(dirs["postings"], "-1") is not None
    assert not os.path.exists(sc.sidecar_path(dirs["postings"], "0"))
    # the -1 sidecar validates against the folded run's content
    blooms = sc.load_run_sidecar(dirs["postings"], "-1")
    mod = adm.store_bucket_mod(dirs["postings"])
    stored = [r.s for r in spark.read.parquet(
        os.path.join(dirs["postings"], "ingest_batch=-1"))
        .select("s").distinct().collect()]
    h1u, h2u, h2i = _spark_hashes(spark, stored)
    bucket_of = (h2i % mod + mod) % mod
    assert sc.hit_buckets(blooms, h1u, h2u, bucket_of) \
        == set(int(b) for b in np.unique(bucket_of))


def test_degraded_sidecars_never_change_verdicts(spark, tmp_path):
    """Corrupt EVERY sidecar mid-pipeline on a blooms-ON sink and
    compare against a sink that never built sidecars at all: the
    next batch's verdicts must equal the sidecar-LESS run's (the
    degraded screen must land on the unassisted scan, not some third
    behavior).  The earlier spelling compared two healthy blooms-on
    runs — a shared-cache bug could have passed it."""
    d_deg = {k: str(tmp_path / "deg" / k)
             for k in ("table", "postings", "log", "sizes")}
    d_ref = {k: str(tmp_path / "ref" / k)
             for k in ("table", "postings", "log", "sizes")}

    def _pipeline(dirs, degrade):
        admit, table = adm.document_admission_sink(
            spark, dirs["table"], dirs["postings"], dirs["log"],
            sizes_dir=dirs["sizes"], compact_every=1,
            bloom_sidecars=degrade)  # ref run: sidecars never built
        admit(_batch(spark, [(i, _TEXTS[i % 3] + f" v{i}", "en", "web")
                             for i in range(9)]), 0)
        if degrade:
            paths = glob.glob(os.path.join(
                dirs["postings"], sc.BLOOM_DIR, "*.npz"))
            assert paths  # the blooms-on fold must have built one
            for p in paths:
                with open(p, "r+b") as fh:
                    fh.truncate(8)
        admit(_batch(spark, [(100 + i, _TEXTS[i % 3] + f" v{i}",
                              "en", "web") for i in range(3)]
                     + [(200, "fresh never seen words forming a "
                              "wholly novel admission candidate",
                         "en", "web")]), 1)
        tbl = sorted((r.doc_id, r.text)
                     for r in table.read().collect())
        log = sorted((r.doc_id, r.kept, r.dup_of, r.jaccard)
                     for r in spark.read
                     .option("basePath", dirs["log"])
                     .parquet(dirs["log"]).collect())
        return tbl, log

    assert _pipeline(d_deg, True) == _pipeline(d_ref, False)


def test_screen_scans_fewer_corpus_rows_with_sidecars(spark, tmp_path):
    """The lever levers: with a big shingle-disjoint filler run and a
    valid sidecar, the corpus frame reaching _screen_pairs shrinks to
    the real base's rows; without the sidecar it carries the filler.
    (This is the bench rung's mechanism, pinned as a unit test.)"""
    base = {k: str(tmp_path / "b" / k)
            for k in ("table", "postings", "log", "sizes")}
    admit, table = adm.document_admission_sink(
        spark, base["table"], base["postings"], base["log"],
        sizes_dir=base["sizes"])
    admit(_batch(spark, [(i, _TEXTS[i % 3] + f" v{i}", "en", "web")
                         for i in range(6)]), 0)
    adm.compact_store_in_place(spark, base["postings"], table,
                               sizes_dir=base["sizes"], level="major")
    mod = adm.store_bucket_mod(base["postings"])
    filler = _postings_df(spark, 0, 50_000, "zzfill")
    _write_run(spark, base["postings"], "-9", filler, mod)
    adm._write_sizes_run(
        spark.read.parquet(
            os.path.join(base["postings"], "ingest_batch=-9")),
        os.path.join(base["sizes"], "ingest_batch=-9"))
    assert sc.build_run_sidecar(spark, base["postings"], "-9")

    counts = []
    orig = adm._screen_pairs

    def _spy(new_post, batch_sizes, corpus_post, corpus_sizes, tau,
             caches=None):
        counts.append(corpus_post.count() if corpus_post is not None
                      else 0)
        return orig(new_post, batch_sizes, corpus_post, corpus_sizes,
                    tau, caches=caches)

    nb = _batch(spark, [(500, _TEXTS[0] + " v0", "en", "web"),
                        (501, "utterly new words for the probe batch "
                              "of the sidecar scan test", "en", "web")])
    # snapshot BEFORE the probe batch commits anywhere (the replay
    # guard would otherwise skip it on the copy)
    d2 = {k: str(tmp_path / "c" / k)
          for k in ("table", "postings", "log", "sizes")}
    for k in ("table", "postings", "log", "sizes"):
        shutil.copytree(base[k], d2[k])
    shutil.rmtree(os.path.join(d2["postings"], sc.BLOOM_DIR))
    adm._screen_pairs = _spy
    try:
        admit(nb, 1)  # sidecar present: filler must be skipped
        admit2, _ = adm.document_admission_sink(
            spark, d2["table"], d2["postings"], d2["log"],
            sizes_dir=d2["sizes"])
        admit2(nb, 1)  # no sidecar: filler is scanned
    finally:
        adm._screen_pairs = orig
    with_sc, without_sc = counts
    # Without the sidecar the probe batch still pays the filler's
    # rows in its touched buckets (~1/3 of 50k at this batch size);
    # with it the corpus frame collapses to the real base's handful.
    assert with_sc < 1_000, counts
    assert without_sc > 10 * with_sc, counts


# ------------------------- property: the bit-level bloom primitives

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(-2**63, 2**63 - 1),
                          st.integers(-2**31, 2**31 - 1)),
                min_size=1, max_size=500),
       st.lists(st.tuples(st.integers(-2**63, 2**63 - 1),
                          st.integers(-2**31, 2**31 - 1)),
                max_size=200))
def test_bloom_membership_no_false_negatives(present, probes):
    """Pure bit-level property under arbitrary (h1, h2) pairs —
    including h2 = 0 and extreme negatives: every inserted pair
    tests positive (a false negative would admit a true duplicate);
    false positives are allowed by construction."""
    h1 = np.array([a for a, _ in present],
                  dtype=np.int64).astype(np.uint64)
    h2 = np.array([b for _, b in present],
                  dtype=np.int64).astype(np.uint64)
    m = sc._bloom_m_bits(len(present))
    bits = np.zeros(m // 8, dtype=np.uint8)
    sc._set_bits(bits, sc._positions(h1, h2, m))
    assert sc._test_bits(bits, sc._positions(h1, h2, m)).all()


def test_unmatchable_tag_fails_open_to_scan(spark, tmp_path):
    """FAIL-OPEN pin: the skip is a DROP-list of proven-miss
    partitions, so a run whose directory tag string cannot match
    Spark's partition VALUE (here: a %-escape the partition parser
    unescapes) is scanned, never silently dropped — an allowlist
    formulation would lose this run's corpus rows and admit dups."""
    base = {k: str(tmp_path / k)
            for k in ("table", "postings", "log", "sizes")}
    admit, table = adm.document_admission_sink(
        spark, base["table"], base["postings"], base["log"],
        sizes_dir=base["sizes"])
    admit(_batch(spark, [(1, _TEXTS[0], "en", "web")]), 0)
    mod = adm.store_bucket_mod(base["postings"])
    # a run whose dir name unescapes to a DIFFERENT partition value
    odd = _postings_df(spark, 0, 300, "odd")
    _write_run(spark, base["postings"], "a%25b", odd, mod)
    adm._write_sizes_run(
        spark.read.parquet(
            os.path.join(base["postings"], "ingest_batch=a%25b")),
        os.path.join(base["sizes"], "ingest_batch=a%25b"))
    assert sc.build_run_sidecar(spark, base["postings"], "a%25b")
    # sanity: Spark's view of the partition value differs from the tag
    vals = {str(r[0]) for r in
            spark.read.option("basePath", base["postings"])
            .parquet(base["postings"])
            .select("ingest_batch").distinct().collect()}
    assert "a%b" in vals and "a%25b" not in vals

    seen = []
    orig = adm._screen_pairs

    def _spy(new_post, batch_sizes, corpus_post, corpus_sizes, tau,
             caches=None):
        if corpus_post is not None:
            seen.append(corpus_post
                        .where(F.col("s").startswith("odd")).count())
        return orig(new_post, batch_sizes, corpus_post, corpus_sizes,
                    tau, caches=caches)

    adm._screen_pairs = _spy
    try:
        admit(_batch(spark, [(2, _TEXTS[1], "en", "web")]), 1)
    finally:
        adm._screen_pairs = orig
    # the odd run's rows REACH the screen frame (scanned, not
    # dropped — only batch-bucket pruning thins them) even though
    # its sidecar proves them batch-disjoint: its tag cannot be
    # matched, so no drop may apply to it.  An allowlist
    # formulation would yield 0 here.
    assert seen and seen[0] > 0, seen


def test_over_cap_bucket_marks_always_hit(spark, tmp_path,
                                          monkeypatch):
    """Over-cap buckets get the always-hit marker (decided from
    parquet FOOTER row counts, never materialized as a pandas
    group), while under-cap buckets in the SAME sidecar still bloom
    and still skip disjoint probes — the mixed marker+bloom payload
    is the case a regression would break."""
    pdir = str(tmp_path / "p")
    mod = 4
    _write_run(spark, pdir, "-1",
               _postings_df(spark, 0, 2000, "big"), mod)
    # cap between the smallest and largest actual bucket row count:
    # at least one bucket over (marker), at least one under (bloom)
    counts = sc._bucket_row_counts(
        os.path.join(pdir, "ingest_batch=-1"))
    assert len(counts) == mod
    cap = max(counts.values()) - 1
    assert min(counts.values()) <= cap  # mixed case really exists
    monkeypatch.setattr(sc, "MAX_KEYS_PER_BLOOM", cap)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    blooms = sc.load_run_sidecar(pdir, "-1")
    over = {b for b, n in counts.items() if n > cap}
    under = set(counts) - over
    assert over and under
    assert {b for b, (_, bits) in blooms.items()
            if bits is None} == over
    assert {b for b, (_, bits) in blooms.items()
            if bits is not None} == under
    # disjoint probes: markers always hit, real blooms all miss
    probes = [f"unrelated{i}" for i in range(200)]
    h1u, h2u, h2i = _spark_hashes(spark, probes)
    bucket_of = (h2i % mod + mod) % mod
    assert set(int(b) for b in np.unique(bucket_of)) == set(counts)
    assert sc.hit_buckets(blooms, h1u, h2u, bucket_of) == over


def test_drop_predicate_keeps_corpus_side_unshuffled(spark, tmp_path):
    """The screen's single most load-bearing plan property — corpus
    postings stream through ONE file scan into the broadcast semi
    join with no corpus-side shuffle — must survive the sidecar drop
    predicate: the drop is partition-column-only, so it lands in the
    scan's PartitionFilters, adds no Exchange, and the plan shape is
    byte-for-byte the unassisted one apart from the filter."""
    pdir = str(tmp_path / "p")
    mod = 8
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 500, "a"),
               mod)
    _write_run(spark, pdir, "-9", _postings_df(spark, 0, 400, "z"),
               mod)
    raw = spark.read.option("basePath", pdir).parquet(pdir)
    ib = F.col("ingest_batch").cast("string")
    drop = (ib == "-9") & ~F.col("s_bucket").isin([0, 1])
    corpus = (raw.where(F.col("s_bucket").isin([0, 1, 2, 3]))
              .where(~drop).select("doc_id", "s"))
    bsh = (spark.createDataFrame([("a1",), ("z2",)], "s string")
           .localCheckpoint())
    rel = _batch_shingle_rel(
        corpus.withColumn("_corp", F.lit(True)), bsh)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = rel._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Scan parquet") == 1
    assert "BroadcastExchange" in plan  # batch side only
    # the drop predicate reached the scan's partition filters —
    # evaluated at listing time, not per row after a full read
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ingest_batch" in m.group(1), plan


# --------------------- r16: O(1) record validation + streamed build


def test_load_validates_with_record_not_walk(spark, tmp_path,
                                             monkeypatch):
    """The r15 screen re-walked the run dir (os.walk + per-file
    stat) on EVERY sidecar load; since r16 the build persists a
    fingerprint RECORD inside the run dir and the load validates
    with one small read.  Pin: happy-path loads never call
    run_fingerprint; deleting the record falls back to the walk
    (and still validates)."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 500, "a"), 8)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    run = os.path.join(pdir, "ingest_batch=-1")
    record = os.path.join(run, sc.FINGERPRINT_FILE)
    assert os.path.exists(record)

    calls = []
    orig = sc.run_fingerprint
    monkeypatch.setattr(sc, "run_fingerprint",
                        lambda d: (calls.append(d) or orig(d)))
    assert sc.load_run_sidecar(pdir, "-1") is not None
    assert calls == [], "happy path must not walk the run dir"
    os.unlink(record)
    assert sc.load_run_sidecar(pdir, "-1") is not None
    assert calls, "record-less load must fall back to the walk"


def test_stale_record_crash_window_degrades(spark, tmp_path):
    """Crash window: a later fold rewrote the run but crashed before
    dropping the old sidecar.  The rewrite replaced the whole dir —
    record included — so the old sidecar validates against either
    the NEW record (mismatch) or the walk (mismatch): never a lie."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 400, "a"), 8)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    # rewrite the run in place (a fold reusing the tag), keeping the
    # OLD sidecar — first without a new record, then with one
    run = os.path.join(pdir, "ingest_batch=-1")
    shutil.rmtree(run)
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 400, "b"), 8)
    assert sc.load_run_sidecar(pdir, "-1") is None  # walk fallback
    sc.write_fingerprint_record(run, sc.run_fingerprint(run))
    assert sc.load_run_sidecar(pdir, "-1") is None  # record mismatch


def test_build_failure_publishes_nothing(spark, tmp_path,
                                         monkeypatch):
    """A crash mid-stream (the toLocalIterator fetch dies) must leave
    neither a sidecar nor a tmp file — the screen scans the run."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 300, "a"), 4)

    def _boom(self, *a, **kw):
        raise RuntimeError("simulated fetch death")

    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is
    # the abstract parent; the classic subclass defines its own)
    monkeypatch.setattr(type(spark.range(1)), "toLocalIterator",
                        _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        sc.build_run_sidecar(spark, pdir, "-1")
    monkeypatch.undo()
    path = sc.sidecar_path(pdir, "-1")
    assert not os.path.exists(path)
    assert not os.path.exists(path + ".tmp")
    assert sc.load_run_sidecar(pdir, "-1") is None


def test_sharded_run_sidecar_sums_buckets_across_shards(spark,
                                                        tmp_path):
    """Sharded layout (lever #1): blooms stay keyed by BUCKET across
    the s_shard level — per-bucket footer counts sum over shards,
    membership covers every shard's shingles, disjoint probes still
    skip."""
    pdir = str(tmp_path / "p")
    mod = 4
    run = os.path.join(pdir, "ingest_batch=-1")
    df = (_postings_df(spark, 0, 800, "sh")
          .withColumn("s_shard",
                      F.when(F.col("doc_id") % 2 == 0, "web")
                      .otherwise("books")))
    adm._write_postings_layout(df, run, mod, shard_col="s_shard")
    counts = sc._bucket_row_counts(run)
    assert set(counts) == set(range(mod))
    assert sum(counts.values()) == 800
    import json as _json
    with open(os.path.join(pdir, adm._META), "w") as fh:
        _json.dump({"s_bucket_mod": mod, "shard_col": "source"}, fh)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    blooms = sc.load_run_sidecar(pdir, "-1")
    present = [f"sh{i}" for i in range(800)]
    h1u, h2u, h2i = _spark_hashes(spark, present)
    bucket_of = (h2i % mod + mod) % mod
    assert sc.hit_buckets(blooms, h1u, h2u, bucket_of) \
        == set(int(b) for b in np.unique(bucket_of))
    novel = [f"nv{i}" for i in range(500)]
    h1u, h2u, h2i = _spark_hashes(spark, novel)
    assert sc.hit_buckets(blooms, h1u, h2u,
                          (h2i % mod + mod) % mod) == set()


# ------------------- r16: the re-ingested-id sizes regression (the
# r15 ADVICE medium): a doc re-admitted with changed content leaves
# postings+sizes in TWO runs until a fold merges them; if the batch
# overlaps only the new run, the old run is fully bloom-dropped —
# but its SIZES row must still reach the ratify join, because the
# smaller old n can cross τ alone.


def test_reingested_id_verdicts_identical_with_blooms(spark,
                                                      tmp_path):
    alpha = " ".join(f"alpha{i}" for i in range(8))    # 6 shingles
    beta = " ".join(f"beta{i}" for i in range(32))     # 30 shingles
    # 12 of beta's words + 2 novel → 12 shingles, 10 shared with beta:
    # j vs new n (30) = 10/32 < 0.5;  j vs old n (6) = 10/8 ≥ 0.5
    probe = " ".join([f"beta{i}" for i in range(12)] + ["qq1", "qq2"])

    def _pipeline(dirs, blooms):
        admit, table = adm.document_admission_sink(
            spark, dirs["table"], dirs["postings"], dirs["log"],
            sizes_dir=dirs["sizes"], tau=0.5, bloom_sidecars=blooms)
        admit(_batch(spark, [(7, alpha, "en", "web")]), 0)
        adm.compact_store_in_place(spark, dirs["postings"], table,
                                   sizes_dir=dirs["sizes"],
                                   level="major",
                                   bloom_sidecars=blooms)
        # re-ingest id 7 with disjoint content (j=0 → admitted):
        # new postings+sizes land in increment '1'; the old live in
        # folded run -1 (sidecar-covered on the blooms side)
        admit(_batch(spark, [(7, beta, "en", "web")]), 1)
        admit(_batch(spark, [(99, probe, "en", "web")]), 2)
        tbl = sorted((r.doc_id, r.text)
                     for r in table.read().collect())
        log = sorted((r.doc_id, r.kept, r.dup_of, r.jaccard)
                     for r in spark.read
                     .option("basePath", dirs["log"])
                     .parquet(dirs["log"]).collect())
        return tbl, log

    d_on = {k: str(tmp_path / "on" / k)
            for k in ("table", "postings", "log", "sizes")}
    d_off = {k: str(tmp_path / "off" / k)
             for k in ("table", "postings", "log", "sizes")}

    seen = []
    orig = adm._screen_pairs

    def _spy(new_post, batch_sizes, corpus_post, corpus_sizes, tau,
             caches=None):
        if corpus_post is not None:
            seen.append(corpus_post
                        .where(F.col("s").startswith("alpha"))
                        .count())
        return orig(new_post, batch_sizes, corpus_post, corpus_sizes,
                    tau, caches=caches)

    adm._screen_pairs = _spy
    try:
        on = _pipeline(d_on, True)
    finally:
        adm._screen_pairs = orig
    off = _pipeline(d_off, False)
    assert on == off
    # the scenario actually triggered: the probe's screen (last spy
    # sample) saw ZERO of the old run's alpha shingles — run -1 was
    # fully bloom-dropped — yet the verdict still used the old n
    verdicts = {d: (k, dup) for d, k, dup, _ in on[1]}
    assert verdicts[99] == (False, 7), on[1]
    assert seen[-1] == 0, seen


def test_sidecar_health_rows(spark, tmp_path, monkeypatch):
    """sidecar_health + the Engine.health_report rows (r15 verdict
    task 4): coverage counts runs with VALID sidecars; the over-cap
    fraction surfaces the undersized-mod failure mode that would
    otherwise neutralize the lever silently."""
    pdir = str(tmp_path / "p")
    _write_run(spark, pdir, "-1", _postings_df(spark, 0, 500, "a"), 4)
    _write_run(spark, pdir, "-2", _postings_df(spark, 0, 400, "z"), 4)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    h = sc.sidecar_health(pdir)
    assert (h["base_runs"], h["covered_runs"]) == (2, 1)
    assert h["uncovered"] == ["-2"]
    assert h["buckets"] == 4 and h["overcap_buckets"] == 0

    # undersize the cap → every -1 bucket becomes a marker
    counts = sc._bucket_row_counts(os.path.join(pdir,
                                                "ingest_batch=-1"))
    monkeypatch.setattr(sc, "MAX_KEYS_PER_BLOOM",
                        min(counts.values()) - 1)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    h = sc.sidecar_health(pdir)
    assert h["overcap_buckets"] == h["buckets"] == 4

    from data_ingestion_challenge_spark.api import Engine
    eng = Engine("/root/testdata/sf0.001", spark=spark)
    rows = {(r.component, r.metric): (r.value, r.note)
            for r in eng.health_report(postings_dir=pdir).collect()}
    cov = rows[("posting_store", "sidecar_coverage")]
    assert cov[0] == 0.5 and "-2" in cov[1]
    over = rows[("posting_store", "sidecar_overcap_fraction")]
    assert over[0] == 1.0 and "s_bucket_mod" in over[1]


def test_health_reports_damaged_bits_member_uncovered(spark,
                                                      tmp_path):
    """Damaged bits members vs the two-tier probe (review findings,
    r16): a TRUNCATED member (the common failure — partial write or
    copy) is caught by the default O(1)-per-bucket header/size
    check; size-preserving in-place BIT ROT is the light probe's
    documented residual (the screen's load CRC-rejects it and
    scans — fail-open) and is caught by deep=True's full CRC
    pass."""
    import zipfile as _zf

    pdir = str(tmp_path / "p")
    # bitmaps must exceed zipfile's ~4 KB buffered read chunk, else
    # the light probe's header read consumes the whole member and
    # incidentally CRC-checks it (50k keys / 4 buckets → ~50 KB)
    _write_run(spark, pdir, "-1",
               _postings_df(spark, 0, 50_000, "a"), 4)
    assert sc.build_run_sidecar(spark, pdir, "-1")
    assert sc.sidecar_health(pdir)["covered_runs"] == 1
    path = sc.sidecar_path(pdir, "-1")

    # (a) size-preserving rot DEEP inside the data region (past the
    # light probe's first buffered chunk): zip offsets and member
    # sizes unchanged, CRC now wrong
    rot = path + ".rot"
    shutil.copyfile(path, rot)
    with _zf.ZipFile(rot) as z:
        off = z.getinfo("bits_0.npy").header_offset + 20_000
    with open(rot, "r+b") as fh:
        fh.seek(off)
        fh.write(b"\xff" * 64)
    os.replace(rot, path)
    assert sc.sidecar_health(pdir)["covered_runs"] == 1  # residual
    assert sc.sidecar_health(pdir, deep=True)["covered_runs"] == 0
    assert sc.load_run_sidecar(pdir, "-1") is None  # load rejects

    # (b) truncation: rebuild the zip with bits_0 short of its
    # header-declared length — the light probe must catch it
    assert sc.build_run_sidecar(spark, pdir, "-1")  # fresh sidecar
    with _zf.ZipFile(path) as z:
        members = {n: z.read(n) for n in z.namelist()}
    members["bits_0.npy"] = members["bits_0.npy"][:-64]
    with _zf.ZipFile(path, "w", _zf.ZIP_STORED) as z:
        for n, data in members.items():
            z.writestr(n, data)
    h = sc.sidecar_health(pdir)
    assert h["covered_runs"] == 0 and h["uncovered"] == ["-1"]


def test_shard_stamp_lock_stale_ages_out(spark, tmp_path):
    """A crashed stamper's O_EXCL lock must not wedge sink builds
    forever: a lock older than 30 s is stolen and the stamp
    proceeds."""
    import data_ingestion_challenge_spark.streaming.admission as A

    pdir = str(tmp_path / "p")
    os.makedirs(pdir)
    lock = os.path.join(pdir, A._META + ".stamp")
    with open(lock, "w"):
        pass
    old = __import__("time").time() - 120
    os.utime(lock, (old, old))
    assert A._resolve_shard(pdir, "source") == "source"
    assert A.store_shard_col(pdir) == "source"
    assert not os.path.exists(lock)
