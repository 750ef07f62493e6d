"""Append-run (LSM) commit mode for TxnTable — the O(batch) commit
path (docs/TXN_RUNS_DESIGN.md).  r9 shipped the additive core
(append_run commits, latest-wins reads incl. time travel, checkpoint
carry-over and expiry, concurrent appenders, txn tags); r10 completes
the lifecycle: run-aware bucket reads make merge_into /
accumulate_batch correct OVER live runs (replacing the r9 typed
refusal), and compact_runs gains the stepped ``level="auto"``
size-tiered ladder beside the full fold."""

from __future__ import annotations

import os

import pytest

from data_ingestion_challenge_spark.txn import TxnTable


def _mk(spark, tmp_path, rows, name="t"):
    df = spark.createDataFrame(rows, "k long, val string")
    return TxnTable.create(spark, str(tmp_path / name), df, key="k",
                           n_buckets=4)


def _state(t):
    return {r.k: r.val for r in t.read().collect()}


def test_append_run_latest_wins_read(spark, tmp_path):
    t = _mk(spark, tmp_path, [(i, f"base{i}") for i in range(10)])
    t.append_run(spark.createDataFrame(
        [(5, "a5"), (8, "a8"), (11, "a11")], "k long, val string"))
    t.append_run(spark.createDataFrame(
        [(5, "b5"), (12, "b12")], "k long, val string"))
    want = {i: f"base{i}" for i in range(10)}
    want.update({5: "b5", 8: "a8", 11: "a11", 12: "b12"})
    assert _state(t) == want
    # time travel: version 1 is the untouched base, version 2 sees
    # only the first append
    assert {r.k: r.val for r in t.read(version=1).collect()} \
        == {i: f"base{i}" for i in range(10)}
    v2 = {r.k: r.val for r in t.read(version=2).collect()}
    assert v2[5] == "a5" and v2[11] == "a11" and 12 not in v2


def test_append_run_never_touches_base_files(spark, tmp_path):
    """The commit is O(batch): base data files are neither rewritten
    nor even re-read for the commit (mtimes identical across N
    appends)."""
    t = _mk(spark, tmp_path, [(i, f"base{i}") for i in range(10)])
    data = os.path.join(t.path, "data")
    before = {f: os.path.getmtime(os.path.join(data, f))
              for f in os.listdir(data)}
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(100 + j, f"n{j}")], "k long, val string"))
    after = {f: os.path.getmtime(os.path.join(data, f))
             for f in before}
    assert after == before
    assert len(_state(t)) == 13


def test_append_run_txn_tag_and_empty_batch(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "x")])
    v = t.append_run(
        spark.createDataFrame([(2, "y")], "k long, val string"),
        _txn={"app": "s", "batch_id": 7})
    assert t.last_txn("s") == 7
    # empty updates: no commit, version unchanged
    assert t.append_run(
        spark.createDataFrame([], "k long, val string")) == v


def test_append_run_duplicate_keys_raise(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "x")])
    with pytest.raises(ValueError, match="latest-wins"):
        t.append_run(spark.createDataFrame(
            [(2, "a"), (2, "b")], "k long, val string"))


def test_concurrent_appenders_both_land(spark, tmp_path):
    """Appends never conflict on content: two writers racing the same
    versions both succeed via re-claim, and the final state carries
    both batches."""
    from concurrent.futures import ThreadPoolExecutor

    t = _mk(spark, tmp_path, [(0, "base")])
    a = TxnTable(spark, t.path, key="k", n_buckets=4)
    b = TxnTable(spark, t.path, key="k", n_buckets=4)

    def _go(handle, lo):
        df = spark.createDataFrame(
            [(lo + i, f"w{lo + i}") for i in range(5)],
            "k long, val string")
        return handle.append_run(df)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(_go, a, 10)
        fb = pool.submit(_go, b, 20)
        va, vb = fa.result(), fb.result()
    assert {va, vb} == {2, 3}
    st = _state(t)
    assert all(st[10 + i] == f"w{10 + i}" for i in range(5))
    assert all(st[20 + i] == f"w{20 + i}" for i in range(5))


def test_checkpoint_and_expiry_keep_run_order(spark, tmp_path):
    """added_at / runs ride checkpoints: after checkpoint() +
    expire_log() removes the underlying records, latest-wins still
    resolves shadowing in commit order — including a post-expiry
    append that shadows a pre-checkpoint one."""
    t = _mk(spark, tmp_path, [(1, "base1"), (2, "base2")])
    t.append_run(spark.createDataFrame([(1, "run1")],
                                       "k long, val string"))
    t.append_run(spark.createDataFrame([(2, "run2")],
                                       "k long, val string"))
    t.checkpoint()
    assert t.expire_log() > 0
    assert _state(t) == {1: "run1", 2: "run2"}
    t.append_run(spark.createDataFrame([(1, "post")],
                                       "k long, val string"))
    assert _state(t) == {1: "post", 2: "run2"}


def test_merge_into_over_live_runs_no_resurrection(spark, tmp_path):
    """merge_into over a live append-run history applies latest-wins
    to its bucket reads: a run row shadowing a base row must survive
    a merge that rewrites the SAME bucket for a different key — the
    plain-union rebuild would have resurrected the shadowed base row
    (the r9 hazard the typed refusal guarded).  n_buckets=1 forces
    every key through one bucket, the worst case."""
    df = spark.createDataFrame([(i, f"base{i}") for i in range(6)],
                               "k long, val string")
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key="k",
                        n_buckets=1)
    t.append_run(spark.createDataFrame(
        [(5, "run5"), (11, "run11")], "k long, val string"))
    t.merge_into(spark.createDataFrame(
        [(3, "m3"), (12, "m12")], "k long, val string"))
    want = {i: f"base{i}" for i in range(6)}
    want.update({5: "run5", 11: "run11", 3: "m3", 12: "m12"})
    assert _state(t) == want
    # the touched bucket was fully rewritten: the table is run-free
    # again and reads windowless
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_accumulate_batch_over_live_runs(spark, tmp_path):
    """Keyed sum-accumulation reads its bucket state latest-wins: a
    run that REPLACED a key's row contributes the replacement value
    to the sum, never base+run."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key="k",
                        n_buckets=2)
    t.append_run(spark.createDataFrame([(1, 100)], "k long, n long"))
    t.accumulate_batch(
        spark.createDataFrame([(1, 5), (2, 7), (3, 9)],
                              "k long, n long"),
        batch_id=0, sum_cols=["n"])
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 105, 2: 27, 3: 9}
    # replay of the same batch id is still skipped whole
    t.accumulate_batch(
        spark.createDataFrame([(1, 5)], "k long, n long"),
        batch_id=0, sum_cols=["n"])
    assert {r.k: r.n for r in t.read().collect()} == got


def test_compact_runs_auto_stepped_ladder(spark, tmp_path):
    """level='auto' merges ADJACENT run generations up the size
    ladder (fold-runs records, asof-ranked) without touching the
    base; value identity holds through every fold, the generation
    count is bounded, and a later full fold still lands windowless."""
    import json as _json

    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(40)])
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(100 + j, f"r{j}"), (5 + j, f"s{j}")],
            "k long, val string"))
    before = _state(t)
    base_files = set(os.listdir(os.path.join(t.path, "data")))
    v = t.compact_runs(level="auto")
    assert v is not None and v == t.version()
    assert _state(t) == before
    # the fold committed as fold-runs with asof = newest folded gen
    with open(os.path.join(t.path, "_log",
                           f"v{v:010d}.json")) as fh:
        rec = _json.load(fh)
    assert rec["op"] == "fold-runs" and rec["asof"] == 4
    # 3 generations collapsed into 1 (2+2 ≥ 0.5×, cascade) — one
    # read group beside the base
    snap = t._replay()
    assert len({snap.added_at[f] for f in snap.runs}) == 1
    # base untouched: no base data file rewritten by the stepped fold
    assert base_files & set(os.listdir(os.path.join(t.path, "data")))
    # idempotent: nothing further to fold at this size spread
    assert t.compact_runs(level="auto") is None
    # pre-fold time travel still resolves latest-wins
    tv = {r.k: r.val for r in t.read(version=4).collect()}
    assert tv[5] == "s0" and tv[7] == "s2" and tv[102] == "r2"
    # full fold afterwards → windowless read, same value
    t.compact_runs(level="full")
    assert _state(t) == before
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_compact_runs_auto_escalates_to_full(spark, tmp_path):
    """When the run mass reaches ratio × the base rows, auto runs the
    major compaction: one merge record, windowless read after."""
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(4)])
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(10 * (j + 1) + i, f"r{j}") for i in range(4)],
            "k long, val string"))
    before = _state(t)
    v = t.compact_runs(level="auto")
    assert v == t.version()
    assert _state(t) == before
    assert not t._replay().runs
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_vacuum_keeps_live_run_files(spark, tmp_path):
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(8)])
    t.append_run(spark.createDataFrame([(3, "r3"), (9, "r9")],
                                       "k long, val string"))
    assert t.vacuum(retain_orphans_s=0) == 0
    assert _state(t)[3] == "r3" and _state(t)[9] == "r9"


def test_merge_only_tables_read_exactly_as_before(spark, tmp_path):
    """No append-runs → the read path is the plain active-file union
    (no latest-wins window in the plan)."""
    t = _mk(spark, tmp_path, [(1, "x"), (2, "y")])
    t.merge_into(spark.createDataFrame([(2, "y2"), (3, "z")],
                                       "k long, val string"))
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert _state(t) == {1: "x", 2: "y2", 3: "z"}


def test_compact_runs_restores_merge_mode(spark, tmp_path):
    """compact_runs folds the run history: read() value-identical
    before/after, the read plan is windowless after, merge_into works
    again, and time travel to the pre-fold version still resolves
    latest-wins."""
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(6)])
    t.append_run(spark.createDataFrame(
        [(2, "r2"), (9, "r9")], "k long, val string"))
    t.append_run(spark.createDataFrame(
        [(2, "s2")], "k long, val string"))
    before = _state(t)
    pre_v = t.version()
    v = t.compact_runs()
    assert v == pre_v + 1
    assert _state(t) == before
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # fold is idempotent-safe: nothing left to fold
    assert t.compact_runs() is None
    # bucket-rewrite ops are legal again
    t.merge_into(spark.createDataFrame([(9, "m9")],
                                       "k long, val string"))
    assert _state(t)[9] == "m9"
    # pre-fold time travel still windows correctly
    tv = {r.k: r.val for r in t.read(version=pre_v).collect()}
    assert tv[2] == "s2" and tv[9] == "r9"


def test_threaded_accumulate_and_appends_conserve(spark, tmp_path):
    """REAL concurrency over a RUN-CARRYING table: one thread streams
    append-run batches (new keys) while two accumulate-threads sum
    into overlapping existing keys.  Conservation must hold: every
    append's keys present with their values, every accumulated key at
    base + all its increments — any plain-union rebuild, lost update,
    or run-resurrection breaks it."""
    import threading

    t = TxnTable.create(
        spark, str(tmp_path / "rc"),
        spark.createDataFrame([(k, 0) for k in range(4)],
                              "k long, n long"),
        key="k", n_buckets=2)
    # a pre-existing run generation so every accumulate starts over
    # a live-run snapshot
    t.append_run(spark.createDataFrame([(100, 7)], "k long, n long"))

    errors = []

    def appender():
        try:
            for j in range(3):
                t.append_run(spark.createDataFrame(
                    [(200 + j, 11)], "k long, n long"),
                    max_retries=120)
        except Exception as exc:  # pragma: no cover
            errors.append(("appender", exc))

    def accumulator(app, rows):
        try:
            for bid in range(3):
                t.accumulate_batch(
                    spark.createDataFrame(rows, "k long, n long"),
                    bid, ["n"], app=app, max_retries=60)
        except Exception as exc:  # pragma: no cover
            errors.append((app, exc))

    threads = [
        threading.Thread(target=appender),
        threading.Thread(target=accumulator,
                         args=("a", [(0, 1), (1, 2)])),
        threading.Thread(target=accumulator,
                         args=("b", [(1, 10), (2, 20)])),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = {r.k: r.n for r in t.read().collect()}
    want = {0: 3, 1: 36, 2: 60, 3: 0, 100: 7,
            200: 11, 201: 11, 202: 11}
    assert got == want


def test_history_and_table_stats(spark, tmp_path):
    """history() reports every surviving commit newest-first with op
    kinds / file counts / txn tags / fold asof; table_stats() reports
    the base-vs-run split and the generation ladder; expiry collapses
    the expired range into one checkpoint entry."""
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(40)])
    t.append_run(spark.createDataFrame([(100, "r0"), (5, "s0")],
                                       "k long, val string"),
                 _txn={"app": "s", "batch_id": 0})
    t.append_run(spark.createDataFrame([(101, "r1"), (6, "s1")],
                                       "k long, val string"))
    t.compact_runs(level="auto")
    h = t.history()
    assert [e["version"] for e in h] == [4, 3, 2, 1]
    assert [e["op"] for e in h] == ["fold-runs", "append-run",
                                    "append-run", "create"]
    assert h[0]["asof"] == 3 and h[0]["n_remove"] > 0
    assert h[2]["txn"] == {"app": "s", "batch_id": 0}
    st = t.table_stats()
    assert st["version"] == 4
    assert st["base_rows"] == 40 and st["run_rows"] == 4
    assert [g["asof"] for g in st["generations"]] == [3]
    assert st["generations"][0]["rows"] == 4
    # expiry: history below the checkpoint collapses into one entry
    t.checkpoint()
    t.expire_log()
    h2 = t.history()
    assert h2 == [{"version": 4, "op": "checkpoint",
                   "n_add": st["n_files"], "n_remove": 0}]


def test_merge_detects_interleaved_append_run(spark, tmp_path):
    """The exact r9-ADVICE interleave: an append-run commits BETWEEN
    a merge's snapshot read and its claim.  The merge must lose the
    claim, classify the run's buckets as a conflict, and rebuild
    against the run-aware snapshot — the final state carries BOTH
    the run's shadowing row and the merge row, and the shadowed base
    row never resurrects (the pre-r10 plain-union rebuild would have
    committed it back)."""
    df = spark.createDataFrame([(i, f"base{i}") for i in range(6)],
                               "k long, val string")
    t = TxnTable.create(spark, str(tmp_path / "t"), df, key="k",
                        n_buckets=1)
    other = TxnTable(spark, t.path, key="k", n_buckets=1)
    fired = []

    def interleave():
        if not fired:
            fired.append(1)
            other.append_run(spark.createDataFrame(
                [(5, "run5"), (11, "run11")], "k long, val string"))

    t.merge_into(spark.createDataFrame([(3, "m3")],
                                       "k long, val string"),
                 _pre_claim=interleave)
    want = {i: f"base{i}" for i in range(6)}
    want.update({5: "run5", 11: "run11", 3: "m3"})
    assert _state(t) == want
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # run folded into the rewritten bucket


def test_point_read_stays_bucket_pruned_over_runs(spark, tmp_path):
    """A keyed point read over a 3-run table reads ONLY the key's
    bucket files (inputFiles audit — a strict subset tagged with the
    key's bucket id) and returns the latest value; a merge-only
    table's point read is likewise pruned and windowless."""
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(16)])
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(5, f"gen{j}"), (100 + j, f"n{j}")],
            "k long, val string"))
    from data_ingestion_challenge_spark.serving import _murmur3_long
    b = _murmur3_long(5) % t.n_buckets
    df = t.point_read(5)
    assert [(r.k, r.val) for r in df.collect()] == [(5, "gen2")]
    files = df.inputFiles()
    active = t._replay().active
    assert files and len(files) < len(active)
    assert all(f.endswith(f"-b{b}.parquet") for f in files)
    # merge-only twin: pruned AND windowless
    t2 = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(16)],
             name="t2")
    df2 = t2.point_read(5)
    assert [(r.k, r.val) for r in df2.collect()] == [(5, "b5")]
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert all(f.endswith(f"-b{b}.parquet") for f in df2.inputFiles())
    # non-integral keys refuse typed
    with pytest.raises(TypeError, match="integral"):
        t.point_read("5")


def test_vacuum_and_expiry_over_fold_history(spark, tmp_path):
    """Full maintenance lifecycle over a stepped-fold history: after
    an auto fold, vacuum(retain 0) deletes exactly the folded-away
    run files (live generations and base survive), and a
    checkpoint+expire_log still replays the fold's asof ranking —
    reads stay value-identical through every step."""
    t = _mk(spark, tmp_path, [(i, f"b{i}") for i in range(40)])
    for j in range(3):
        t.append_run(spark.createDataFrame(
            [(100 + j, f"r{j}"), (5, f"s{j}")],
            "k long, val string"))
    before = _state(t)
    data = os.path.join(t.path, "data")
    assert t.compact_runs(level="auto") is not None
    n_mid = len(os.listdir(data))  # fold staged new files
    n_removed = t.vacuum(retain_orphans_s=0)
    assert n_removed > 0
    assert len(os.listdir(data)) == n_mid - n_removed
    assert _state(t) == before
    t.checkpoint()
    assert t.expire_log() > 0
    assert _state(t) == before
    # post-expiry appends still shadow correctly
    t.append_run(spark.createDataFrame([(5, "post")],
                                       "k long, val string"))
    assert _state(t)[5] == "post"


def test_append_run_pre_claim_barrier(spark, tmp_path):
    """_pre_claim runs between staging and the claim; a raising
    barrier discards the staged files and no commit lands — and it
    runs even for an empty batch."""
    t = _mk(spark, tmp_path, [(1, "x")])
    calls = []
    t.append_run(spark.createDataFrame([(2, "y")],
                                       "k long, val string"),
                 _pre_claim=lambda: calls.append("full"))
    t.append_run(spark.createDataFrame([], "k long, val string"),
                 _pre_claim=lambda: calls.append("empty"))
    assert calls == ["full", "empty"]
    v = t.version()
    data = os.path.join(t.path, "data")
    n_files = len(os.listdir(data))

    def _boom():
        raise RuntimeError("maintenance write failed")

    with pytest.raises(RuntimeError, match="maintenance"):
        t.append_run(spark.createDataFrame([(3, "z")],
                                           "k long, val string"),
                     _pre_claim=_boom)
    assert t.version() == v
    assert len(os.listdir(data)) == n_files
