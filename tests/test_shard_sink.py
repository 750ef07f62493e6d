"""Shard lever #1 WIRED into the admission sink (r15 verdict task 3;
docs/SCREEN_SCALING.md): document_admission_sink(shard_col=) routes
each doc's postings under ``s_shard=<value>/s_bucket=<b>`` and prunes
the screen's corpus read to the batch's shard values plus the
reserved global shard.

The battery pins, in order: (1) end-to-end EQUIVALENCE with the
unsharded sink on the lever's contract regime (near-dups share the
shard key, or a member rides the NULL→global route) including folds,
sidecars, and crash recovery on a sharded store; (2) the documented
CROSS-SHARD RESIDUAL — a near-dup pair split across two non-global
shards is NOT flagged (the semantic tradeoff the operator signs up
for, stated rather than hidden); (3) the NULL→global policy (global
is always scanned, so a global-shard dup is caught from any batch
shard); (4) the sticky-meta rules (conflict raises, in-place
conversion refused, omitted arg keeps sharding); (5) the fold/crash
protocol on sharded layouts (manifest-published crash heals, folded
base keeps the s_shard level)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import data_ingestion_challenge_spark.streaming.admission as adm
from data_ingestion_challenge_spark.streaming.admission import (
    GLOBAL_SHARD, SHARD_COL, document_admission_sink,
    run_document_admission,
)

LONG_A = ("the quick brown fox jumps over the lazy dog while the "
          "moon rises slowly over the quiet hills tonight")
LONG_A_NEAR = ("the quick brown fox jumps over the lazy dog while the "
               "moon rises slowly over the quiet hills today")
NOVEL = ("completely unrelated content about distributed query "
         "engines shuffling partitioned columnar data at scale")
NOVEL_NEAR = ("completely unrelated content about distributed query "
              "engines shuffling partitioned columnar data at speed")
FRESH = ("fresh words never seen before in any prior drop of this "
         "shard sink test corpus forming a novel admission")


def _batch(spark, rows):
    """rows = [(doc_id, text, source)] — source may be None."""
    return spark.createDataFrame(
        [(i, t, "en", s) for i, t, s in rows], adm.DOCS_SCHEMA)


def _dirs(tmp_path, name):
    return {k: str(tmp_path / name / k)
            for k in ("table", "postings", "log", "sizes")}


def _state(spark, table, log_dir):
    tbl = sorted((r.doc_id, r.text) for r in table.read().collect())
    log = sorted((r.doc_id, r.kept, r.dup_of, r.jaccard)
                 for r in spark.read.option("basePath", log_dir)
                 .parquet(log_dir).collect())
    return tbl, log


def _drive(spark, dirs, batches, shard_col, **kw):
    admit, table = document_admission_sink(
        spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], shard_col=shard_col, **kw)
    for bid, rows in enumerate(batches):
        admit(_batch(spark, rows), bid)
    return table


# ---------------------------------------------------- equivalence


def test_sharded_equals_unsharded_on_contract_regime(spark, tmp_path):
    """Near-dups share their source (or touch the global shard):
    sharded and unsharded sinks produce bit-identical tables and
    logs, THROUGH folds (sharded runs, sidecars, fingerprint
    records)."""
    batches = [
        # b0: two sources + a NULL-source doc (→ global shard)
        [(1, LONG_A, "web"), (2, NOVEL, "books"), (3, FRESH, None)],
        # b1: exact dup (same shard), near dup (same shard), novel
        [(10, LONG_A, "web"), (11, NOVEL_NEAR, "books"),
         (12, "entirely new words forming the second wave of this "
              "stream of shardable documents", "web")],
        # b2: near-dup of the GLOBAL doc, probed from a named shard
        [(20, FRESH + " extra", "web")],
    ]
    ds = _dirs(tmp_path, "sharded")
    du = _dirs(tmp_path, "plain")
    ts = _drive(spark, ds, batches, "source", compact_every=1)
    tu = _drive(spark, du, batches, None, compact_every=1)
    assert _state(spark, ts, ds["log"]) == _state(spark, tu, du["log"])
    # the sharded store really is sharded, down in the folded base
    base = os.path.join(ds["postings"], "ingest_batch=-1")
    shards = sorted(e.name for e in os.scandir(base)
                    if e.name.startswith(f"{SHARD_COL}="))
    assert f"{SHARD_COL}={GLOBAL_SHARD}" in shards
    assert len(shards) >= 3, shards
    inner = os.path.join(base, shards[0])
    assert any(e.name.startswith("s_bucket=")
               for e in os.scandir(inner))


def test_screen_scans_only_batch_shards(spark, tmp_path):
    """The lever levers: a batch confined to one source must not read
    another shard's corpus rows — REGARDLESS of shingle overlap (the
    corpus doc here shares every shingle, so blooms could never skip
    it; only the shard prune does)."""
    ds = _dirs(tmp_path, "s")
    admit, table = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"], shard_col="source",
        bloom_sidecars=False)
    admit(_batch(spark, [(1, LONG_A, "web"), (2, NOVEL, "books")]), 0)

    seen = []
    orig = adm._screen_pairs

    def _spy(new_post, batch_sizes, corpus_post, corpus_sizes, tau,
             caches=None):
        seen.append(corpus_post.count() if corpus_post is not None
                    else 0)
        return orig(new_post, batch_sizes, corpus_post, corpus_sizes,
                    tau, caches=caches)

    adm._screen_pairs = _spy
    try:
        # same text as the books doc, but a web batch: the books
        # shard is pruned, so zero corpus rows reach the screen
        admit(_batch(spark, [(10, NOVEL, "web")]), 1)
    finally:
        adm._screen_pairs = orig
    assert seen == [0]
    # ...and that IS the documented residual: the cross-shard exact
    # dup was admitted (the full-store batch sweep catches it later)
    assert 10 in {r.doc_id for r in table.read().collect()}


def test_null_shard_routes_global_and_is_always_screened(spark,
                                                         tmp_path):
    """A NULL-source corpus doc lives in the global shard, which
    every batch scans: a near-dup arriving under ANY named source
    still rejects against it."""
    ds = _dirs(tmp_path, "g")
    t = _drive(spark, ds, [
        [(1, LONG_A, None)],          # → global shard
        [(10, LONG_A_NEAR, "web")],   # near-dup probed from 'web'
    ], "source")
    tbl, log = _state(spark, t, ds["log"])
    assert [d for d, _ in tbl] == [1]
    verdicts = {d: (k, dup) for d, k, dup, _ in log}
    assert verdicts[10] == (False, 1)
    # r18 increment layout: the batch rides the single __mixed__
    # level; the NULL→global routing lives in the doc_shard column.
    inc = os.path.join(ds["postings"], "ingest_batch=0")
    assert [e.name for e in os.scandir(inc)
            if e.name.startswith(f"{SHARD_COL}=")] == [
        f"{SHARD_COL}={adm.MIXED_SHARD}"]
    vals = {r[0] for r in spark.read.parquet(inc)
            .select(adm.DOC_SHARD).distinct().collect()}
    assert vals == {GLOBAL_SHARD}


# ------------------------------------------------- sticky meta rules


def test_shard_meta_is_sticky_and_conflicts_raise(spark, tmp_path):
    ds = _dirs(tmp_path, "m")
    _drive(spark, ds, [[(1, LONG_A, "web")]], "source")
    # conflicting column refuses
    with pytest.raises(ValueError, match="sharded by 'source'"):
        document_admission_sink(
            spark, ds["table"], ds["postings"], ds["log"],
            sizes_dir=ds["sizes"], shard_col="lang")
    # omitted arg: the store layout wins — increments stay sharded
    admit, _tbl = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"])
    admit(_batch(spark, [(2, NOVEL, "books")]), 1)
    inc = os.path.join(ds["postings"], "ingest_batch=1")
    assert any(e.name.startswith(f"{SHARD_COL}=")
               for e in os.scandir(inc))


def test_sharding_existing_unsharded_store_refuses(spark, tmp_path):
    ds = _dirs(tmp_path, "u")
    _drive(spark, ds, [[(1, LONG_A, "web")]], None)
    with pytest.raises(ValueError, match="cannot shard an existing"):
        document_admission_sink(
            spark, ds["table"], ds["postings"], ds["log"],
            sizes_dir=ds["sizes"], shard_col="source")


def test_missing_shard_column_in_batch_raises(spark, tmp_path):
    ds = _dirs(tmp_path, "c")
    admit, _t = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"], shard_col="provenance")
    with pytest.raises(ValueError, match="provenance"):
        admit(_batch(spark, [(1, LONG_A, "web")]), 0)


# ---------------------------------------------------- fold + crash


def test_sharded_fold_crash_heals_and_screens_correctly(
        spark, tmp_path, monkeypatch):
    """Crash AFTER the manifest publish on a SHARDED store: the next
    sink build heals the swap (recover_compaction is layout-
    agnostic — dirs move wholesale, shard level and all), the folded
    base keeps s_shard=, and a near-dup of a folded doc still
    rejects."""
    ds = _dirs(tmp_path, "cr")
    admit, table = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"], shard_col="source")
    admit(_batch(spark, [(1, LONG_A, "web"), (2, NOVEL, "books")]), 0)
    admit(_batch(spark, [(3, FRESH, "web")]), 1)

    def _boom(*a, **kw):
        raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(adm, "_finish_swap", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        adm.compact_store_in_place(spark, ds["postings"], table,
                                   sizes_dir=ds["sizes"],
                                   level="major")
    monkeypatch.undo()
    assert os.path.exists(os.path.join(ds["postings"],
                                       adm._COMPACT_MANIFEST))
    # next sink build heals before screening
    admit, table = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"], shard_col="source")
    assert not os.path.exists(os.path.join(ds["postings"],
                                           adm._COMPACT_MANIFEST))
    base = os.path.join(ds["postings"], "ingest_batch=-1")
    assert any(e.name.startswith(f"{SHARD_COL}=")
               for e in os.scandir(base))
    admit(_batch(spark, [(10, LONG_A_NEAR, "web"),
                         (11, FRESH + " tail", "web")]), 2)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3}


def test_run_document_admission_shard_passthrough(spark, tmp_path):
    """The streaming entry point wires shard_col through under the
    drain-wide lease; the watch-dir jsonl carries source values."""
    d = {k: str(tmp_path / k)
         for k in ("watch", "table", "postings", "log", "ckpt")}
    sizes = str(tmp_path / "sizes")
    os.makedirs(d["watch"])
    with open(os.path.join(d["watch"], "d1.jsonl"), "w") as fh:
        for r in ([{"doc_id": 1, "text": LONG_A, "lang": "en",
                    "source": "web"},
                   {"doc_id": 2, "text": NOVEL, "lang": "en",
                    "source": None}]):
            fh.write(json.dumps(r) + "\n")
    table = run_document_admission(
        spark, d["watch"], d["table"], d["postings"], d["log"],
        d["ckpt"], sizes_dir=sizes, shard_col="source")
    assert {r.doc_id for r in table.read().collect()} == {1, 2}
    # Effective shard values (r18: increments carry the true shard in
    # doc_shard under the __mixed__ level; the resolved reader is the
    # value surface).
    store = adm._read_store_resolved(spark, d["postings"], sharded=True)
    shards = {str(r[0]) for r in
              store.select(SHARD_COL).distinct().collect()}
    assert shards == {"web", GLOBAL_SHARD}
    assert adm.store_shard_col(d["postings"]) == "source"
    # prune plan: both partition levels reach PartitionFilters on the
    # RAW read (the screen's pruning surface)
    raw = adm._read_store(spark, d["postings"], sharded=True,
                          bucketed=True)
    plan = (raw.where((F.col(SHARD_COL) == adm.MIXED_SHARD)
                      & F.col("s_bucket").isin([0, 1]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan


def test_empty_string_shard_routes_global(spark, tmp_path):
    """A source value that cannot round-trip through a partition dir
    ('' → __HIVE_DEFAULT_PARTITION__ → NULL on read) must route to
    the global shard: the fail-closed isin prune would otherwise
    hide those postings from every future screen and silently admit
    true duplicates (review finding, r16)."""
    ds = _dirs(tmp_path, "e")
    t = _drive(spark, ds, [
        [(1, LONG_A, "")],            # '' → global, not a '' shard
        [(10, LONG_A_NEAR, "")],      # same-source near-dup
        [(20, LONG_A + " x", "web")],  # cross-source near-dup
    ], "source")
    tbl, log = _state(spark, t, ds["log"])
    assert [d for d, _ in tbl] == [1]
    verdicts = {d: (k, dup) for d, k, dup, _ in log}
    assert verdicts[10] == (False, 1)
    assert verdicts[20] == (False, 1)  # global is ALWAYS scanned
    inc = os.path.join(ds["postings"], "ingest_batch=0")
    shards = [e.name for e in os.scandir(inc)
              if e.name.startswith(f"{SHARD_COL}=")]
    assert shards == [f"{SHARD_COL}={adm.MIXED_SHARD}"]
    vals = {r[0] for r in spark.read.parquet(inc)
            .select(adm.DOC_SHARD).distinct().collect()}
    assert vals == {GLOBAL_SHARD}


def test_unrepresentable_shard_values_route_global(spark, tmp_path):
    """Every string class the partition-dir round-trip breaks on —
    probed empirically: '' and literal __HIVE_DEFAULT_PARTITION__
    read back NULL; control chars FAIL the write; >80-utf-8-byte
    values overflow the 255-byte dirname once %-escaped — routes to
    the global shard, so the batch neither crashes nor hides corpus
    postings.  Near-dups across these weird sources still reject
    (global is always scanned)."""
    ds = _dirs(tmp_path, "w")
    t = _drive(spark, ds, [
        [(1, LONG_A, "__HIVE_DEFAULT_PARTITION__")],
        [(10, LONG_A_NEAR, "a\x01b"),      # control char
         (11, NOVEL, "s" * 200)],          # over-long
        [(20, NOVEL_NEAR, "web")],
    ], "source")
    tbl, log = _state(spark, t, ds["log"])
    assert [d for d, _ in tbl] == [1, 11]
    verdicts = {d: (k, dup) for d, k, dup, _ in log}
    assert verdicts[10] == (False, 1)
    assert verdicts[20] == (False, 11)
    for bid in ("0", "1"):
        inc = os.path.join(ds["postings"], f"ingest_batch={bid}")
        shards = [e.name for e in os.scandir(inc)
                  if e.name.startswith(f"{SHARD_COL}=")]
        assert shards == [f"{SHARD_COL}={adm.MIXED_SHARD}"], (
            bid, shards)
        vals = {r[0] for r in spark.read.parquet(inc)
                .select(adm.DOC_SHARD).distinct().collect()}
        assert vals == {GLOBAL_SHARD}, (bid, vals)


def test_assigned_shard_values_roundtrip_property(spark, tmp_path):
    """Hypothesis-style property, batched into one write: for ANY
    source string, the ASSIGNED s_shard value must survive the
    partitionBy write → read round-trip exactly (a value that reads
    back different/NULL would be invisible to the fail-closed prune
    forever).  Alphabet stresses the escape path: specials, unicode,
    whitespace, percent-escapes, dots, long-but-representable."""
    from pyspark.sql import functions as F

    values = ["web", "a b", " a", "a ", "a/b", "a\\b", "a=b", "a%25b",
              "a\nb", "a\tb", "héllo", "日本語",
              ".", "..", "a:b", "{x}", "a,b", 'a"b', "a'b", "a;b",
              "s" * 80, "s" * 81, "", "__HIVE_DEFAULT_PARTITION__",
              "a\x1fb", None]
    batch = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)],
        "doc_id long, source string")
    src = F.col("source").cast("string")
    unrep = (src.isNull() | (src == "")
             | (src == "__HIVE_DEFAULT_PARTITION__")
             | (F.octet_length(src) > 80)
             | src.rlike("[\\x00-\\x1F\\x7F]"))
    assigned = batch.select(
        "doc_id",
        F.when(unrep, F.lit(GLOBAL_SHARD)).otherwise(src)
        .alias(SHARD_COL))
    expect = {(r.doc_id, r.s_shard) for r in assigned.collect()}
    out = str(tmp_path / "t")
    assigned.write.partitionBy(SHARD_COL).parquet(out)
    got = {(r.doc_id, r.s_shard)
           for r in spark.read.parquet(out).collect()}
    assert got == expect


def test_cross_shard_sweep_finds_exactly_the_residual(spark,
                                                      tmp_path):
    """The batch sweep the shard contract defers to: after the
    screen admits a cross-shard dup (the documented residual), the
    sweep reports exactly that pair — and nothing intra-shard or
    global-involving (those were screened at admission and cannot
    both be in the store)."""
    ds = _dirs(tmp_path, "sw")
    t = _drive(spark, ds, [
        [(1, LONG_A, "web"), (2, NOVEL, "books"), (3, FRESH, None)],
        # cross-shard exact dup of 2 (admitted: books shard pruned),
        # near-dup of the GLOBAL doc 3 (rejected: global scanned),
        # novel doc
        [(10, NOVEL, "web"), (11, FRESH + " x", "web"),
         (12, "wholly distinct closing document about nothing in "
              "particular at all", "web")],
    ], "source", compact_every=1)
    assert {r.doc_id for r in t.read().collect()} == {1, 2, 3, 10, 12}
    out = adm.sweep_cross_shard_dups(spark, ds["postings"],
                                     tau=0.8,
                                     table_path=ds["table"])
    rows = [(r.doc_a, r.doc_b, r.jaccard,
             list(r.shards_a), list(r.shards_b))
            for r in out.collect()]
    assert rows == [(2, 10, 1.0, ["books"], ["web"])], rows
    # the lease was released: a sink build acquires cleanly after
    admit2, _t2 = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"])
    admit2(_batch(spark, [(20, "one more closing novel doc with "
                               "plenty of unshared words", "web")]),
           5)


def test_cross_shard_sweep_refuses_unsharded_store(spark, tmp_path):
    ds = _dirs(tmp_path, "swu")
    _drive(spark, ds, [[(1, LONG_A, "web")]], None)
    with pytest.raises(ValueError, match="not sharded"):
        adm.sweep_cross_shard_dups(spark, ds["postings"])


def test_sweep_completeness_against_admitted_pair_oracle(spark,
                                                         tmp_path):
    """The sweep's COMPLETENESS invariant, stated from first
    principles: among ADMITTED docs, any ≥τ pair must have disjoint
    shard sets (an intra-shard or global pair would have been
    stopped at its second member's screen), and the sweep must
    report EXACTLY the ≥τ pairs the independent PPJoin oracle finds
    over the admitted corpus itself.  Drives a 4-batch multi-shard
    stream with exact dups, near dups, cross-shard mirrors, and a
    NULL-source doc, then compares pair sets."""
    from data_ingestion_challenge_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu nu xi omicron pi rho sigma tau upsilon")
    mk = (lambda tail: base + " " + tail)
    ds = _dirs(tmp_path, "comp")
    t = _drive(spark, ds, [
        [(1, mk("one ending here now"), "web"),
         (2, NOVEL, "books"), (3, FRESH, None)],
        [(10, mk("one ending here now"), "mirror"),   # cross-shard
         (11, mk("two ending here now"), "mirror"),   # near, cross
         (12, NOVEL_NEAR, "books")],                  # intra → drop
        [(20, FRESH + " y", "web"),                   # vs global → drop
         (21, "a wholly separate closing body of text with no "
              "overlap anywhere", "web")],
        [(30, mk("one ending here also"), "web")],    # near doc 1,
                                                      # same shard → drop
    ], "source", compact_every=2)
    admitted = {r.doc_id for r in t.read().collect()}
    assert admitted == {1, 2, 3, 10, 11, 21}
    # independent oracle: exact ≥τ pairs over the admitted TEXTS
    docs = t.read().select("doc_id", "text")
    oracle = {(r.doc_a, r.doc_b, r.jaccard)
              for r in ngram_jaccard_pairs(docs, tau=0.8).collect()}
    swept = {(r.doc_a, r.doc_b, r.jaccard)
             for r in adm.sweep_cross_shard_dups(
                 spark, ds["postings"], tau=0.8,
                 table_path=ds["table"]).collect()}
    assert swept == oracle, (swept, oracle)
    assert swept, "the stream must actually leave a residual"
    # and the screen guarantee that makes sweep==oracle possible:
    # every admitted ≥τ pair is cross-shard (checked BY the sweep's
    # disjoint filter matching the unfiltered oracle exactly)


# ------------------------------------------- r18 increment layout


def _inc_data_files(inc_dir):
    out = []
    for base, dirs, files in os.walk(inc_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(base, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".",
                                                               "_"))]
    return out


def test_sharded_increment_write_has_no_shard_fanout(spark, tmp_path):
    """The r16-measured drain cost (one file per non-empty
    (shard, bucket) cell, ~2× drain time at bench geometry): an
    increment of a 3-shard batch must now produce EXACTLY the
    unsharded drain's file set — one file per populated s_bucket
    under the single __mixed__ level — with the true shards riding
    the doc_shard data column."""
    ds = _dirs(tmp_path, "fan")
    du = _dirs(tmp_path, "fanu")
    batches = [[(1, LONG_A, "web"), (2, NOVEL, "books"),
                (3, FRESH, None)]]
    _drive(spark, ds, batches, "source")
    _drive(spark, du, batches, None)
    inc_s = os.path.join(ds["postings"], "ingest_batch=0")
    inc_u = os.path.join(du["postings"], "ingest_batch=0")
    shard_dirs = [e.name for e in os.scandir(inc_s)
                  if e.name.startswith(f"{SHARD_COL}=")]
    assert shard_dirs == [f"{SHARD_COL}={adm.MIXED_SHARD}"]
    # same per-bucket file fan-out as the unsharded increment
    def _buckets(d):
        return sorted(os.path.relpath(f, d).split("/")[-2]
                      for f in _inc_data_files(d))
    assert _buckets(os.path.join(inc_s, shard_dirs[0])) \
        == _buckets(inc_u)
    assert len(_inc_data_files(inc_s)) == len(_inc_data_files(inc_u))
    # and the shard values are all there, exactly
    vals = {str(r[0]) for r in spark.read.parquet(inc_s)
            .select(adm.DOC_SHARD).distinct().collect()}
    assert vals == {"web", "books", GLOBAL_SHARD}


def test_mixed_literal_source_value_routes_global(spark, tmp_path):
    """'__mixed__' as a REAL source value is reserved by the r18
    increment layout (a doc carrying it would land under a base
    s_shard=__mixed__ dir after a fold, where the screen's mixed-row
    data filter would hide it) — it must route to the global shard
    like the other unrepresentables, keeping its near-dups
    catchable from any batch shard."""
    ds = _dirs(tmp_path, "mx")
    t = _drive(spark, ds, [
        [(1, LONG_A, adm.MIXED_SHARD)],
        [(10, LONG_A_NEAR, "web")],   # cross-"shard" near-dup
    ], "source", compact_every=1)
    tbl, log = _state(spark, t, ds["log"])
    assert [d for d, _ in tbl] == [1]
    verdicts = {d: (k, dup) for d, k, dup, _ in log}
    assert verdicts[10] == (False, 1)
    # after the fold the base must hold it under __global__, and no
    # base dir may be named __mixed__
    base = os.path.join(ds["postings"], "ingest_batch=-1")
    shards = sorted(e.name for e in os.scandir(base)
                    if e.name.startswith(f"{SHARD_COL}="))
    assert f"{SHARD_COL}={GLOBAL_SHARD}" in shards
    assert f"{SHARD_COL}={adm.MIXED_SHARD}" not in shards


def test_fold_rederives_shard_dirs_and_drops_doc_shard(spark,
                                                       tmp_path):
    """The fold must rewrite mixed increments into REAL
    s_shard=<value> dirs (partition-prunable bulk) and the staged
    run's data files must NOT carry the doc_shard column (it is an
    increment-only contract)."""
    import pyarrow.parquet as pq

    ds = _dirs(tmp_path, "fold18")
    t = _drive(spark, ds, [
        [(1, LONG_A, "web"), (2, NOVEL, "books"), (3, FRESH, None)],
    ], "source", compact_every=1)
    base = os.path.join(ds["postings"], "ingest_batch=-1")
    shards = sorted(e.name for e in os.scandir(base)
                    if e.name.startswith(f"{SHARD_COL}="))
    assert shards == [f"{SHARD_COL}={GLOBAL_SHARD}",
                      f"{SHARD_COL}=books", f"{SHARD_COL}=web"]
    for f in _inc_data_files(base):
        names = pq.ParquetFile(f).schema_arrow.names
        assert adm.DOC_SHARD not in names, (f, names)
    # and a post-fold screen still matches through the base run
    admit, table = document_admission_sink(
        spark, ds["table"], ds["postings"], ds["log"],
        sizes_dir=ds["sizes"])
    admit(_batch(spark, [(10, LONG_A_NEAR, "web")]), 5)
    assert {r.doc_id for r in table.read().collect()} == {1, 2, 3}


def test_sweep_fail_open_on_reingested_shard_change(spark, tmp_path):
    """Review finding (r16): a doc re-ingested under a CHANGED shard
    value gets a multi-shard union set; a disjointness-only filter
    would then hide a residual pair no screen ever saw.  Scenario:
    A admitted in 'web'; B ('books', exact dup of A) admitted — its
    screen scanned books+global only, missing A; A then re-ingested
    in 'books' with small novel content (below τ against everything
    scanned, so admitted) — A's shard set becomes {books, web} and
    overlaps B's.  The sweep must still report the (A, B) pair
    (union-set jaccard 40/43 ≥ 0.8)."""
    base = " ".join(f"w{i}" for i in range(42))  # 40 shingles
    tiny = "qq1 qq2 qq3 qq4 qq5"                 # 3 novel shingles
    ds = _dirs(tmp_path, "multi")
    t = _drive(spark, ds, [
        [(1, base, "web")],
        [(2, base, "books")],   # cross-shard mirror of 1 → admitted
        [(1, tiny, "books")],   # re-ingest id 1, changed shard
    ], "source")
    assert {r.doc_id for r in t.read().collect()} == {1, 2}
    out = adm.sweep_cross_shard_dups(spark, ds["postings"], tau=0.8,
                                     table_path=ds["table"])
    rows = {(r.doc_a, r.doc_b): (r.jaccard, list(r.shards_a),
                                 list(r.shards_b))
            for r in out.collect()}
    assert (1, 2) in rows, rows
    j, sa, sb = rows[(1, 2)]
    assert sa == ["books", "web"] and sb == ["books"]
    assert j == round(40 / 43, 4)
