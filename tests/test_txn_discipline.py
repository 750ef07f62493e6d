"""r11 ADVICE hardening of the append-run/append-delta commit modes:
the mixing-discipline guard is revalidated inside the claim loop (two
concurrent opposite-mode writers can no longer BOTH commit into an
empty-run table), delta increments are type-checked (not just
name-checked), a base-less run ladder escalates to a windowless base,
empty-bucket point reads plan zero files, and the admission sink's
corpus-table fold never fails a committed micro-batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_challenge_spark.txn import TxnTable


def _mk(spark, tmp_path, rows, name="t", n_buckets=4):
    df = spark.createDataFrame(rows, "k long, n long, m int")
    return TxnTable.create(spark, str(tmp_path / name), df, key="k",
                           n_buckets=n_buckets)


def _data_files(t: TxnTable) -> set[str]:
    return {f for f in os.listdir(os.path.join(t.path, "data"))
            if f.endswith(".parquet")}


# ------------------------------------- concurrent-mode mixing race


def test_concurrent_delta_vs_run_mixing_refused(spark, tmp_path):
    """The r10 guard was check-then-act: both writers snapshot an
    empty run set, both commit, and read() silently SUM-merges
    latest-wins rows.  Now the discipline is revalidated at the head
    each claim lands on: the loser of the interleave gets the typed
    refusal, its staged files are discarded, and the table stays
    single-discipline.  The interleave is driven deterministically
    through _pre_claim (runs between staging and the first claim)."""
    t = _mk(spark, tmp_path, [(1, 10, 1), (2, 20, 2)])
    other = TxnTable(spark, t.path, key="k", n_buckets=4)

    def interleave_run():
        other.append_run(spark.createDataFrame(
            [(3, 3, 3)], "k long, n long, m int"))

    with pytest.raises(NotImplementedError, match="latest-wins"):
        t.append_delta(
            spark.createDataFrame([(1, 5, 0)], "k long, n long, m int"),
            _pre_claim=interleave_run)
    # the loser's staged files were discarded — every file on disk is
    # referenced by the current snapshot (no orphans)
    snap = t._replay()
    assert _data_files(t) == {os.path.basename(f) for f in snap.active}
    assert not snap.delta
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 3: 3}  # run landed, delta refused


def test_concurrent_run_vs_delta_mixing_refused(spark, tmp_path):
    """The mirror race: an append_delta lands between an append_run's
    staging and claim — the run writer must refuse, not shadow the
    delta rows with latest-wins semantics."""
    t = _mk(spark, tmp_path, [(1, 10, 1)])
    other = TxnTable(spark, t.path, key="k", n_buckets=4)

    def interleave_delta():
        other.append_delta(spark.createDataFrame(
            [(1, 5, 0)], "k long, n long, m int"))

    with pytest.raises(NotImplementedError, match="DELTA"):
        t.append_run(
            spark.createDataFrame([(9, 9, 9)], "k long, n long, m int"),
            _pre_claim=interleave_delta)
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 15}  # the delta summed; the run never landed


# ------------------------------------------- typed delta increments


def test_append_delta_type_mismatch_refused(spark, tmp_path):
    """Same names, wrong type: pre-r11 this passed the name check and
    F.sum over a string column silently nulled the column on read."""
    t = _mk(spark, tmp_path, [(1, 10, 1)])
    with pytest.raises(ValueError, match="type-identical"):
        t.append_delta(spark.createDataFrame(
            [(1, "5", 0)], "k long, n string, m int"))
    with pytest.raises(ValueError, match="type-identical"):
        # silent int→bigint widening is also a refusal: the sum fold
        # casts back to the TABLE dtype, so a wider delta could
        # silently truncate
        t.append_delta(spark.createDataFrame(
            [(1, 5, 0)], "k long, n long, m long"))
    assert {r.k: (r.n, r.m) for r in t.read().collect()} == {1: (10, 1)}


def test_commit_type_drift_refused(spark, tmp_path):
    """Reads pass the recorded schema to every scan, so every commit
    must stage that schema: an append_run or merge_into whose column
    type differs is refused before any file lands — for merge_into
    whether or not the touched bucket holds rows to coerce against."""
    from data_ingestion_challenge_spark.serving import _murmur3_long

    t = _mk(spark, tmp_path, [(1, 10, 1)])
    drift = "k long, n long, m long"
    with pytest.raises(ValueError, match="type-identical"):
        t.append_run(spark.createDataFrame([(2, 2, 2)], drift))
    empty = next(k for k in range(2, 64)
                 if _murmur3_long(k) % 4 != _murmur3_long(1) % 4)
    for k in (1, empty):  # the occupied bucket, then an empty one
        with pytest.raises(ValueError, match="type-identical"):
            t.merge_into(spark.createDataFrame([(k, 3, 3)], drift))
    assert t.version() == 1
    assert _data_files(t) == {os.path.basename(f)
                              for f in t._replay().active}
    assert dict(t.read().dtypes)["m"] == "int"


def test_bucket_count_mismatch_refused(spark, tmp_path):
    """create() records the bucket count: a handle opened with another
    one would route a point read to the wrong bucket (an existing key
    reads as absent) and stage commits under a second bucket
    function, so every bucket computation refuses it — also once the
    records below a checkpoint are expired."""
    from data_ingestion_challenge_spark.serving import _murmur3_long

    t = _mk(spark, tmp_path, [(k, k, 0) for k in range(20)])
    # a key whose 32-bucket routing differs from its 4-bucket one
    k = next(k for k in range(20) if _murmur3_long(k) % 32 >= 4)
    other = TxnTable(spark, t.path, key="k")  # the default 32 buckets
    with pytest.raises(ValueError, match="n_buckets"):
        other.point_read(k)
    row = spark.createDataFrame([(99, 1, 1)], "k long, n long, m int")
    for commit in (other.append_run, other.merge_into):
        with pytest.raises(ValueError, match="n_buckets"):
            commit(row)
    assert t.version() == 1
    t.checkpoint()
    t.expire_log()
    with pytest.raises(ValueError, match="n_buckets"):
        other.point_read(k)
    assert [tuple(r) for r in t.point_read(k).collect()] == [(k, k, 0)]


# --------------------------------------- base-less ladder escalation


def test_baseless_ladder_escalates_to_windowless(spark, tmp_path):
    """A table whose WHOLE history is append-runs (the admission
    corpus shape: created empty, only ever appended) must not pay the
    latest-wins window forever: once the ladder collapses to one
    generation, auto falls through to the full fold and materializes
    a windowless base."""
    t = TxnTable.create(spark, str(tmp_path / "t"),
                        spark.createDataFrame([], "k long, n long"),
                        key="k", n_buckets=2)
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(10 * j + i, j) for i in range(4)], "k long, n long"))
    before = {r.k: r.n for r in t.read().collect()}
    for _ in range(4):  # a fold per tick until the ladder is done
        if t.compact_runs(level="auto") is None:
            break
    assert t.run_generations() == 0
    stats = t.table_stats()
    assert stats["base_rows"] == 12 and stats["run_rows"] == 0
    assert {r.k: r.n for r in t.read().collect()} == before
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_baseless_single_generation_escalates(spark, tmp_path):
    """Even ONE live generation with no base escalates (pre-r11 the
    auto path returned None there and the window never cleared)."""
    t = TxnTable.create(spark, str(tmp_path / "t"),
                        spark.createDataFrame([], "k long, n long"),
                        key="k", n_buckets=2)
    t.append_run(spark.createDataFrame([(1, 1)], "k long, n long"))
    assert t.run_generations() == 1
    assert t.compact_runs(level="auto") is not None
    assert t.run_generations() == 0
    # and once a base exists, a lone small run does NOT re-trigger
    # the O(corpus) full fold every tick — the ratio gate governs
    t.merge_into(spark.createDataFrame(
        [(k, 0) for k in range(2, 50)], "k long, n long"))
    t.append_run(spark.createDataFrame([(99, 9)], "k long, n long"))
    assert t.compact_runs(level="auto") is None
    assert t.run_generations() == 1


# --------------------------------------- empty-bucket point reads


def test_point_read_empty_bucket_plans_no_files(spark, tmp_path):
    """A miss on an EMPTY bucket of a run-carrying table must build
    its empty frame from the recorded schema — planning the full
    latest-wins merge across every live file just to return zero rows
    defeats point_read's O(bucket) contract."""
    from data_ingestion_challenge_spark.serving import _murmur3_long

    t = TxnTable.create(spark, str(tmp_path / "t"),
                        spark.createDataFrame([], "k long, n long"),
                        key="k", n_buckets=4)
    # populate ONLY bucket 0 (runs → the read side would be windowed)
    keys = [k for k in range(64) if _murmur3_long(k) % 4 == 0][:6]
    t.append_run(spark.createDataFrame([(k, 1) for k in keys],
                                       "k long, n long"))
    t.append_run(spark.createDataFrame([(keys[0], 2)], "k long, n long"))
    miss = next(k for k in range(64) if _murmur3_long(k) % 4 == 1)
    df = t.point_read(miss)
    assert df.inputFiles() == [] and df.count() == 0
    assert df.columns == ["k", "n"]
    # a hit on the populated bucket still prunes to that bucket
    hit = t.point_read(keys[0])
    assert [(r.k, r.n) for r in hit.collect()] == [(keys[0], 2)]
    assert all(f.endswith("-b0.parquet") for f in hit.inputFiles())


# --------------------------------- admission fold never fails a batch


def test_admission_corpus_fold_failure_never_fails_batch(spark,
                                                         tmp_path):
    """The per-tick corpus-table fold runs AFTER the batch's commit
    has landed; a fold error (e.g. CommitConflictError from a
    concurrent writer) must be swallowed like checkpoint() on the
    same path — the next cadence tick retries it."""
    from data_ingestion_challenge_spark.streaming.admission import (
        DOCS_SCHEMA, document_admission_sink,
    )

    d = {k: str(tmp_path / k)
         for k in ("table", "postings", "log", "sizes")}
    admit, table = document_admission_sink(
        spark, d["table"], d["postings"], d["log"],
        sizes_dir=d["sizes"], compact_every=1, commit_mode="append")

    calls = []

    def boom(*a, **kw):
        calls.append(1)
        raise RuntimeError("fold lost its claim")

    table.compact_runs = boom  # instance shadow: the sink's closure
    for b in range(4):
        rows = [(b * 100 + i,
                 " ".join(f"w{b}x{i}x{j}" for j in range(40)),
                 "en", "web") for i in range(5)]
        admit(spark.createDataFrame(rows, DOCS_SCHEMA), b)
    assert calls  # the gate did fire and the failure was swallowed
    assert table.read().count() == 20  # every batch committed


# ------------------------------ reads plan with the recorded schema


def _gen_table(spark, tmp_path):
    """Created empty, then five append-run generations, each holding
    key 5 — five rank groups for read() and point_read(5)."""
    t = TxnTable.create(spark, str(tmp_path / "gens"),
                        spark.createDataFrame([], "k long, n long"),
                        key="k", n_buckets=4)
    for g in range(5):
        t.append_run(spark.createDataFrame(
            [(5, g), (10 + g, g)], "k long, n long"))
    return t


def _jobs_to_build(spark, build) -> int:
    """Spark jobs started while `build` constructs (not runs) a
    frame, counted from the status tracker under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "frame build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_builds_start_no_spark_job(spark, tmp_path):
    """Every read goes through the schema the log records, so building
    read(), point_read(k) and changes(since) over a 5-generation run
    table plans its scans without one schema-inference job per
    generation."""
    t = _gen_table(spark, tmp_path)
    assert _jobs_to_build(spark, t.read) == 0
    assert _jobs_to_build(spark, lambda: t.point_read(5)) == 0
    assert _jobs_to_build(spark, lambda: t.changes(2)) == 0
    assert {r.k: r.n for r in t.read().collect()} == {
        5: 4, **{10 + g: g for g in range(5)}}
    assert [(r.k, r.n) for r in t.point_read(5).collect()] == [(5, 4)]
    assert {r.k: r.n for r in t.changes(2).collect()} == {
        5: 4, **{10 + g: g for g in range(1, 5)}}


def test_schemaless_log_reads_by_inference(spark, tmp_path):
    """A vintage table whose v1 record and checkpoints never recorded
    a schema still reads correctly: the one read falls back to footer
    inference, and an empty read probes a data file for its
    schema."""
    import json as _json

    from data_ingestion_challenge_spark.txn import (
        _ckpt_file, _version_file,
    )

    t = _gen_table(spark, tmp_path)
    ck = t.checkpoint()
    for p in (_version_file(t.path, 1), _ckpt_file(t.path, ck)):
        with open(p) as fh:
            d = _json.load(fh)
        d.pop("schema")
        with open(p, "w") as fh:
            _json.dump(d, fh)
    assert t._replay().schema is None
    want = {5: 4, **{10 + g: g for g in range(5)}}
    assert {r.k: r.n for r in t.read().collect()} == want
    assert [(r.k, r.n) for r in t.point_read(5).collect()] == [(5, 4)]
    assert {r.k: r.n for r in t.changes(4).collect()} == {
        5: 4, 13: 3, 14: 4}
    empty = t.changes(t.version())
    assert empty.count() == 0 and empty.columns == ["k", "n"]
    # commits still land (nothing to check them against) and read
    t.append_run(spark.createDataFrame([(5, 9)], "k long, n long"))
    assert {r.k: r.n for r in t.read().collect()} == {**want, 5: 9}


# ------------------------------------ one replay, one read (tooling)


def test_txn_keeps_one_log_lister_and_one_read():
    """Static check of txn.py: the log directory is listed only by
    version() and the one checkpoint lister, and parquet is read only
    by the one merged read and the vintage-schema fallback — a second
    replay or a second read path cannot be added unnoticed."""
    import ast

    from data_ingestion_challenge_spark import txn

    with open(txn.__file__) as fh:
        tree = ast.parse(fh.read())

    def attrs(node):
        # attribute names along a call/attribute receiver chain
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                yield node.attr
                node = node.value
            else:
                node = node.func

    # module functions and TxnTable methods, nested helpers included
    fns = [f for top in tree.body
           for f in (top.body if isinstance(top, ast.ClassDef) else [top])
           if isinstance(f, ast.FunctionDef)]
    listers, readers = set(), set()
    for fn in fns:
        for node in ast.walk(fn):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            chain = list(attrs(node.func))
            if chain[0] == "listdir" and any(
                    isinstance(n, ast.Name) and n.id == "_log_dir"
                    for a in node.args for n in ast.walk(a)):
                listers.add(fn.name)
            if chain[0] == "parquet" and "write" not in chain[1:]:
                readers.add(fn.name)
    assert listers == {"version", "_checkpoints"}, listers
    assert readers == {"_read", "_empty_frame"}, readers
