"""Commit-log table tests (txn.py): snapshot isolation, MERGE
semantics equal to a recompute, optimistic two-writer concurrency
(both succeed — no writer lock), conflict-triggered recompute,
O(touched buckets) rewrites, orphan invisibility, time travel,
vacuum, and the registered MERGE gates against the batch rollup."""

from __future__ import annotations

import os

import pytest

from data_ingestion_challenge_spark.txn import TxnTable


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "k long, v long")
    return TxnTable.create(spark, str(tmp_path / "t"), base,
                           key="k", n_buckets=8)


def test_create_and_read(spark, table):
    assert table.version() == 1
    assert _rows(table.read()) == {(i, i * 10) for i in range(100)}


def test_merge_upsert_delete_equals_recompute(spark, table):
    updates = spark.createDataFrame(
        [(5, 999), (50, 888), (1000, 777)], "k long, v long")
    deletes = spark.createDataFrame([(7,), (50,)], "k long")
    v = table.merge_into(updates, deletes=deletes)
    assert v == 2
    want = {(i, i * 10) for i in range(100) if i not in (5, 7, 50)}
    # overlapping key 50: upsert wins over delete (documented)
    want |= {(5, 999), (50, 888), (1000, 777)}
    assert _rows(table.read()) == want


def test_merge_rewrites_only_touched_buckets(spark, table):
    """A one-key merge_into is O(touched buckets): every data file of
    the other buckets stays live in the new snapshot, byte for byte,
    and only the touched bucket's files are replaced."""
    import hashlib

    def _digests(active, keep):
        out = {}
        for f, b in active.items():
            if keep(b):
                with open(os.path.join(table.path, f), "rb") as fh:
                    out[f] = hashlib.sha256(fh.read()).hexdigest()
        return out

    b7 = spark.sql("SELECT pmod(hash(7L), 8)").collect()[0][0]
    _, before = table._snapshot()
    untouched = _digests(before, lambda b: b != b7)
    assert untouched, "expected untouched bucket files"
    table.merge_into(spark.createDataFrame([(7, -7)], "k long, v long"))
    _, after = table._snapshot()
    assert _digests(after, lambda b: b != b7) == untouched
    rewritten = {f for f, b in after.items() if b == b7}
    assert rewritten and not rewritten & set(before)


def test_duplicate_update_keys_raise(spark, table):
    dup = spark.createDataFrame([(5, 1), (5, 2)], "k long, v long")
    with pytest.raises(ValueError, match="at most one source row"):
        table.merge_into(dup)


def test_two_writers_both_succeed_disjoint(spark, table):
    """The headline multi-writer case: writer A stages, writer B
    commits first, A loses the version claim — and because B touched
    DISJOINT buckets, A re-claims the next version with no recompute.
    Both updates land."""
    a_upd = spark.createDataFrame([(3, -3)], "k long, v long")
    b_upd = spark.createDataFrame([(4, -4)], "k long, v long")
    # choose keys in different buckets so the interleave is disjoint
    b3 = spark.sql("SELECT pmod(hash(3L), 8)").collect()[0][0]
    b4 = spark.sql("SELECT pmod(hash(4L), 8)").collect()[0][0]
    assert b3 != b4, "pick different test keys"

    def competing_writer():
        table.merge_into(b_upd)

    v = table.merge_into(a_upd, _pre_claim=competing_writer)
    assert v == 3 and table.version() == 3
    got = _rows(table.read())
    assert (3, -3) in got and (4, -4) in got
    assert len(got) == 100


def test_two_writers_conflict_recomputes(spark, table):
    """Writer B rewrites the SAME key (same bucket) while A is
    in-flight: A's staged merge is stale, so A must recompute from
    B's snapshot — serializable outcome: A's value (the later commit)
    wins, and B's commit is not lost from the log."""
    a_upd = spark.createDataFrame([(3, 111)], "k long, v long")
    b_upd = spark.createDataFrame([(3, 222)], "k long, v long")

    def competing_writer():
        table.merge_into(b_upd)

    v = table.merge_into(a_upd, _pre_claim=competing_writer)
    assert v == 3
    got = _rows(table.read())
    assert (3, 111) in got and (3, 222) not in got
    assert len(got) == 100
    # both commits are in the log (serialized, none lost)
    assert table._commit_record(2)["op"] == "merge"
    assert table._commit_record(3)["op"] == "merge"


def test_orphan_files_invisible(spark, table, tmp_path):
    """A data file without a commit referencing it (crashed writer)
    must not appear in reads; vacuum's age guard KEEPS fresh unclaimed
    files (a live writer's staging looks identical) and deletes them
    only past the retention window."""
    before = _rows(table.read())
    orphan_src = spark.createDataFrame([(9999, 1)], "k long, v long")
    staged = table._stage(orphan_src)  # staged but never committed
    assert staged
    assert _rows(table.read()) == before
    assert table.vacuum() == 0  # default guard: too fresh to reap
    for f in staged:
        assert os.path.exists(os.path.join(table.path, f))
    n = table.vacuum(retain_orphans_s=0)  # no writer in flight
    assert n >= len(staged)
    for f in staged:
        assert not os.path.exists(os.path.join(table.path, f))
    assert _rows(table.read()) == before


def test_time_travel(spark, table):
    upd = spark.createDataFrame([(5, 999)], "k long, v long")
    table.merge_into(upd)
    now = _rows(table.read())
    past = _rows(table.read(version=1))
    assert (5, 999) in now and (5, 999) not in past
    assert (5, 50) in past


def test_delete_to_empty_bucket(spark, tmp_path):
    """Deleting every key of a bucket leaves the bucket empty — the
    commit removes its files without adding any (the case a dynamic
    partition overwrite would silently no-op on)."""
    base = spark.createDataFrame([(1, 1), (2, 2)], "k long, v long")
    t = TxnTable.create(spark, str(tmp_path / "d"), base,
                        key="k", n_buckets=2)
    empty_upd = spark.createDataFrame([], "k long, v long")
    deletes = spark.createDataFrame([(1,), (2,)], "k long")
    t.merge_into(empty_upd, deletes=deletes)
    assert t.read().count() == 0
    # and the rows are still visible at version 1
    assert t.read(version=1).count() == 2


def test_accumulate_batch_replay_idempotent(spark, tmp_path):
    """A crash-replayed micro-batch (same batch_id) must be skipped
    WHOLE — the (app, batch_id) txn tag in the commit log is the
    idempotence gate; the commit is atomic, so no partial-bucket
    bookkeeping is needed."""
    t = TxnTable.create(
        spark, str(tmp_path / "acc"),
        spark.createDataFrame([], "k long, n long"),
        key="k", n_buckets=4)
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, n long")
    b1 = spark.createDataFrame([(1, 1), (3, 3)], "k long, n long")
    assert t.accumulate_batch(b0, 0, ["n"]) == 2
    assert t.accumulate_batch(b1, 1, ["n"]) is not None
    want = {(1, 11), (2, 20), (3, 3)}
    assert _rows(t.read()) == want
    # replay both batches: no-ops, state unchanged, no new versions
    v = t.version()
    assert t.accumulate_batch(b0, 0, ["n"]) is None
    assert t.accumulate_batch(b1, 1, ["n"]) is None
    assert t.version() == v and _rows(t.read()) == want


def test_covers_touched_requires_rebuild_and_no_deletes(spark,
                                                        tmp_path):
    """r18 merge-commit optimization (_covers_touched: accumulate's
    derived frame is staged as-is, skipping the second bucket read):
    the flag is only sound when (a) a _rebuild hook can re-derive the
    frame against a fresh snapshot on an overlapping conflict — the
    plain retry path re-merges, but a covers-touched frame is a
    function of its snapshot — and (b) there are no deletes (the
    staged-as-is frame would resurrect them).  Both misuses must
    raise before any staging happens."""
    t = TxnTable.create(
        spark, str(tmp_path / "cov"),
        spark.createDataFrame([(1, 10)], "k long, n long"),
        key="k", n_buckets=2)
    upd = spark.createDataFrame([(1, 11)], "k long, n long")
    with pytest.raises(ValueError, match="requires _rebuild"):
        t.merge_into(upd, _covers_touched=True)
    with pytest.raises(ValueError, match="incompatible with"):
        t.merge_into(upd, deletes=upd.select("k"),
                     _covers_touched=True, _rebuild=lambda: upd)
    # and the guards fired before any commit landed
    assert t.version() == 1


def test_accumulate_conflict_rederives_sums(spark, tmp_path):
    """If a competing commit rewrites one of the accumulator's buckets
    mid-flight, the retry must RE-SUM against the new snapshot — the
    pre-computed totals are stale (the _rebuild hook)."""
    t = TxnTable.create(
        spark, str(tmp_path / "accc"),
        spark.createDataFrame([(1, 100)], "k long, n long"),
        key="k", n_buckets=2)
    inc = spark.createDataFrame([(1, 10)], "k long, n long")
    competing = spark.createDataFrame([(1, 1000)], "k long, n long")

    def competing_writer():
        t.merge_into(competing)  # replaces k=1 with 1000

    # interleave through merge_into's test hook via accumulate's path
    # (hook applies only to the FIRST call — the competing writer's
    # own merge must not re-trigger itself)
    orig = t.merge_into
    applied = []

    def patched(updates, **kw):
        if not applied:
            applied.append(True)
            kw["_pre_claim"] = competing_writer
        return orig(updates, **kw)

    t.merge_into = patched
    try:
        t.accumulate_batch(inc, 0, ["n"])
    finally:
        t.merge_into = orig
    # re-derived: 1000 (competing) + 10 (increment), NOT 100 + 10
    assert _rows(t.read()) == {(1, 1010)}


def test_checkpoint_compacts_replay(spark, table):
    """After checkpoint(), snapshots replay from the compacted active
    set — results identical, and pre-checkpoint time travel still
    works from the retained commit records."""
    for i in range(3):
        table.merge_into(spark.createDataFrame(
            [(i, 1000 + i)], "k long, v long"))
    before = _rows(table.read())
    ck_v = table.checkpoint()
    assert ck_v == table.version()
    assert _rows(table.read()) == before
    # commits after the checkpoint replay on top of it
    table.merge_into(spark.createDataFrame([(0, -1)], "k long, v long"))
    after = _rows(table.read())
    assert (0, -1) in after and (0, 1000) not in after
    # time travel to BEFORE the checkpoint still replays
    assert (0, 1000) in _rows(table.read(version=ck_v))
    assert (5, 50) in _rows(table.read(version=1))


def test_merge_model_property(spark, tmp_path):
    """Model-based check: a random program of upsert/delete batches
    applied to both the TxnTable and a plain dict must agree at every
    version (snapshot now + time travel to each recorded step) —
    the 'ACID table equals its serial history' property."""
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    batch = st.lists(
        st.tuples(st.integers(0, 12), st.integers(-50, 50)),
        min_size=0, max_size=4,
        unique_by=lambda t: t[0])
    dels = st.lists(st.integers(0, 12), min_size=0, max_size=3,
                    unique=True)
    program = st.lists(st.tuples(batch, dels), min_size=1, max_size=4)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(program=program)
    def run(program):
        import uuid as _uuid
        path = str(tmp_path / f"prop_{_uuid.uuid4().hex[:8]}")
        model = {i: i for i in range(5)}
        t = TxnTable.create(
            spark, path,
            spark.createDataFrame(list(model.items()), "k long, v long"),
            key="k", n_buckets=4)
        # an op with no updates AND no deletes commits nothing, so
        # map model states to the version merge_into actually returns
        history = {1: dict(model)}
        for ups, ds in program:
            for k in ds:
                model.pop(k, None)
            for k, v in ups:          # upsert wins over delete
                model[k] = v
            ver = t.merge_into(
                spark.createDataFrame(ups, "k long, v long")
                if ups else
                spark.createDataFrame([], "k long, v long"),
                deletes=(spark.createDataFrame([(k,) for k in ds],
                                               "k long") if ds else None))
            history[ver] = dict(model)
        for v, snap in history.items():
            got = {r[0]: r[1] for r in t.read(version=v).collect()}
            assert got == snap, f"version {v}: {got} != {snap}"

    run()


def test_expire_log_after_checkpoint(spark, table):
    """expire_log deletes records at or below the newest checkpoint;
    current reads and post-checkpoint commits keep working, expired
    time travel raises the documented KeyError, and a table whose
    whole history is expired still reports the right version."""
    table.merge_into(spark.createDataFrame([(5, 999)], "k long, v long"))
    ck = table.checkpoint()
    n = table.expire_log()
    assert n == 2 and table.version() == ck
    now = _rows(table.read())
    assert (5, 999) in now and len(now) == 100
    with pytest.raises(KeyError, match="expired"):
        table.read(version=1)
    # commits continue above the checkpoint
    v = table.merge_into(spark.createDataFrame([(6, -6)], "k long, v long"))
    assert v == ck + 1
    assert (6, -6) in _rows(table.read())


def test_create_race_loser_raises(spark, tmp_path):
    """Two creators race to v1: the O_EXCL claim arbitrates, the
    loser's staged files are discarded and it raises."""
    path = str(tmp_path / "race")
    base = spark.createDataFrame([(1, 1)], "k long, v long")
    TxnTable.create(spark, path, base, key="k", n_buckets=2)
    # second create: the version() pre-check catches the common case
    with pytest.raises(FileExistsError):
        TxnTable.create(spark, path, base, key="k", n_buckets=2)
    # the narrow race (pre-check passed, claim lost): simulate by
    # calling the claim path directly with a stale view
    t = TxnTable(spark, path, key="k", n_buckets=2)
    staged = t._stage(base)
    assert not t._claim(1, {"op": "create", "add": staged,
                            "remove": []})
    t._discard(staged)


def test_vacuum_retention_preserves_recent_time_travel(spark, table):
    """vacuum(retain_versions=N) keeps every file the last N
    snapshots reference: time travel within the horizon survives,
    older reads lose their files (the Delta retention trade)."""
    table.merge_into(spark.createDataFrame([(5, 999)], "k long, v long"))
    table.merge_into(spark.createDataFrame([(6, 888)], "k long, v long"))
    table.vacuum(retain_versions=1)   # keep v2 and v3 files
    assert (5, 999) in _rows(table.read(version=2))
    assert (6, 888) in _rows(table.read(version=3))


def test_last_txn_survives_checkpoint_and_expire(spark, table):
    """The exactly-once replay gate must survive log maintenance:
    checkpoints carry the (app, batch_id) marks forward, so after
    expire_log() removes the records, last_txn neither raises nor
    forgets (a forgotten mark would double-apply a replayed batch)."""
    from pyspark.sql import functions as F

    agg = spark.createDataFrame([(1, 5)], "k long, v long") \
        .groupBy("k").agg(F.sum("v").alias("v"))
    assert table.accumulate_batch(agg, 7, sum_cols=["v"],
                                  app="gate") is not None
    table.checkpoint()
    assert table.expire_log() > 0
    assert table.last_txn("gate") == 7
    # Replay of batch 7 after maintenance: skipped whole.
    assert table.accumulate_batch(agg, 7, sum_cols=["v"],
                                  app="gate") is None


def test_empty_created_table_is_readable(spark, tmp_path):
    """A created-but-never-populated table reads as an empty frame
    with the creation schema (recorded in the create commit) — the
    admission pipeline creates its corpus table exactly this way."""
    t = TxnTable.create(spark, str(tmp_path / "e"),
                        spark.createDataFrame([], "k long, v string"),
                        key="k")
    df = t.read()
    assert df.count() == 0
    assert df.columns == ["k", "v"]
    # ... and still after checkpoint + expire (schema rides the ckpt).
    t.checkpoint()
    t.expire_log()
    assert t.read().columns == ["k", "v"]


def test_claim_crash_leaves_no_torn_record(spark, table):
    """A writer that dies during a claim must leave the table fully
    readable: the record publishes atomically via tmp+link, so the
    only possible debris is an unlinked tmp file, which version()
    and snapshots ignore."""
    import json as _json

    from data_ingestion_challenge_spark.txn import _log_dir

    v_before = table.version()
    # Simulate the crash window: the tmp body exists, the link never
    # happened.
    tmp = os.path.join(_log_dir(table.path),
                       f"v{v_before + 1:010d}.json.tmp-deadbeef")
    with open(tmp, "w") as fh:
        _json.dump({"version": v_before + 1, "op": "merge",
                    "add": {}, "remove": []}, fh)
    assert table.version() == v_before
    assert _rows(table.read())  # snapshot replay unaffected
    # And the next real commit claims the version the crasher wanted.
    upd = spark.createDataFrame([(0, 123)], "k long, v long")
    assert table.merge_into(upd) == v_before + 1


def test_merge_base_snapshot_closes_lost_update_window(spark, tmp_path):
    """A commit landing between the derivation read and the merge's
    claim must be detected as a conflict (via the _base snapshot) and
    re-derived — not silently overwritten with stale sums."""
    from pyspark.sql import functions as F

    t = TxnTable.create(spark, str(tmp_path / "w"),
                        spark.createDataFrame([(1, 100)],
                                              "k long, v long"),
                        key="k", n_buckets=4)
    base: dict = {}
    rebuilds = []

    def derive(inc_v: int):
        base["snap"] = t._snapshot_runs()
        cur = t.read()
        return (cur.unionByName(spark.createDataFrame(
            [(1, inc_v)], "k long, v long"))
            .groupBy("k").agg(F.sum("v").alias("v")))

    stale = derive(10)          # reads v=100 → derives 110
    # Interleaved writer bumps the same key BEFORE our merge claims.
    t.merge_into(spark.createDataFrame([(1, 1000)], "k long, v long"))

    def rebuild():
        rebuilds.append(1)
        return derive(10)       # reads v=1000 → derives 1010

    t.merge_into(stale, _rebuild=rebuild, _base=lambda: base["snap"])
    assert rebuilds, "interleave went undetected (lost update)"
    assert _rows(t.read()) == {(1, 1010)}


def test_threaded_accumulators_conserve_sums(spark, tmp_path):
    """REAL concurrency: three threads sum-accumulate into the same
    table (distinct apps, overlapping keys) with genuinely interleaved
    claims.  Sum-accumulation commutes, so whatever serialization the
    optimistic protocol produces, the final per-key totals must equal
    base + all increments — any lost update, torn record, or
    double-apply breaks the conservation."""
    import threading

    from pyspark.sql import functions as F  # noqa: F401

    t = TxnTable.create(
        spark, str(tmp_path / "mt"),
        spark.createDataFrame([(k, 0) for k in range(8)],
                              "k long, n long"),
        key="k", n_buckets=4)

    increments = {
        "app_a": [(0, 1), (1, 2), (2, 3)],
        "app_b": [(1, 10), (2, 20), (3, 30)],
        "app_c": [(2, 100), (3, 200), (0, 300)],
    }
    errors = []

    def worker(app, rows):
        try:
            for bid in range(3):
                inc = spark.createDataFrame(
                    [(k, v) for k, v in rows], "k long, n long")
                # Generous retry budget: under adverse scheduling a
                # thread can lose many consecutive claims; exhausting
                # the default 5 raises CommitConflictError, which is
                # back-pressure, not a protocol violation — this test
                # asserts CONSERVATION, so it must not flake on it.
                t.accumulate_batch(inc, bid, ["n"], app=app,
                                   max_retries=60)
        except Exception as exc:  # pragma: no cover
            errors.append((app, exc))

    threads = [threading.Thread(target=worker, args=(a, r))
               for a, r in increments.items()]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    want = {k: 0 for k in range(8)}
    for rows in increments.values():
        for k, v in rows:
            want[k] += v * 3  # three batches per app
    got = {r.k: r.n for r in t.read().collect()}
    assert got == want
    # every (app, batch) is marked committed exactly once
    for app in increments:
        assert t.last_txn(app) == 2


def test_expire_log_upgrades_markless_checkpoint(spark, table):
    """A LEGACY checkpoint (written before txn marks / schema were
    carried) must not let expire_log() discard the only copy of the
    idempotence marks: expiry first rewrites the checkpoint with
    marks rebuilt from the records, so a crash-replayed streaming
    batch still skips (no double-count)."""
    import json as _json

    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.txn import _log_dir

    agg = spark.createDataFrame([(1, 5)], "k long, v long") \
        .groupBy("k").agg(F.sum("v").alias("v"))
    assert table.accumulate_batch(agg, 3, sum_cols=["v"],
                                  app="legacy") is not None
    ck = table.checkpoint()
    # Strip the checkpoint down to the legacy shape (no txns/schema).
    ckpath = os.path.join(_log_dir(table.path),
                          f"ckpt-v{ck:010d}.json")
    with open(ckpath) as fh:
        data = _json.load(fh)
    assert data.pop("txns") == {"legacy": 3}
    data.pop("schema")
    with open(ckpath, "w") as fh:
        _json.dump(data, fh)
    assert table.expire_log() > 0
    # The marks survived the expiry via the rewrite...
    assert table.last_txn("legacy") == 3
    with open(ckpath) as fh:
        upgraded = _json.load(fh)
    assert upgraded["txns"] == {"legacy": 3}
    assert upgraded.get("schema")
    # ...and the replay gate still holds.
    assert table.accumulate_batch(agg, 3, sum_cols=["v"],
                                  app="legacy") is None


def test_expire_refused_when_marks_unrecoverable(spark, table):
    """If a mark-less checkpoint's underlying records are ALREADY
    gone (hand-deleted / prior buggy maintenance), expire_log must
    refuse rather than silently lose the marks."""
    import json as _json

    from data_ingestion_challenge_spark.txn import (
        _log_dir, _version_file,
    )

    table.merge_into(spark.createDataFrame([(5, 999)],
                                           "k long, v long"))
    ck = table.checkpoint()
    ckpath = os.path.join(_log_dir(table.path),
                          f"ckpt-v{ck:010d}.json")
    with open(ckpath) as fh:
        data = _json.load(fh)
    data.pop("txns")
    data.pop("schema", None)
    with open(ckpath, "w") as fh:
        _json.dump(data, fh)
    os.remove(_version_file(table.path, 1))  # the record is gone
    with pytest.raises(ValueError, match="refusing expire_log"):
        table.expire_log()


def test_concurrent_expiry_mid_merge_is_retryable(spark, table):
    """A checkpoint()+expire_log() racing a merge's lost-claim scan:
    the expired interleaved record must read as an OVERLAPPING
    conflict (recompute from the fresh snapshot), not a KeyError
    crash — and the staged files must not leak as orphans."""

    def compete():
        # A competing writer lands v2, then maintenance checkpoints
        # and expires the log — our in-flight merge loses its v2
        # claim AND finds record v2 already expired.
        table.merge_into(spark.createDataFrame(
            [(3, -3)], "k long, v long"))
        table.checkpoint()
        table.expire_log()

    v = table.merge_into(
        spark.createDataFrame([(4, -4)], "k long, v long"),
        _pre_claim=compete)
    assert v == 3
    now = _rows(table.read())
    assert (3, -3) in now and (4, -4) in now
    # No leaked staged orphans: after a zero-retention vacuum (files
    # removed by later versions are legitimately still on disk until
    # then), every remaining data file is referenced by the current
    # snapshot — the conflict path discarded its stale staging.
    table.vacuum(retain_versions=0, retain_orphans_s=0.0)
    _, active = table._snapshot()
    on_disk = set(os.listdir(os.path.join(table.path, "data")))
    referenced = {os.path.basename(f) for f in active}
    assert on_disk == referenced


def test_auto_checkpoint_cadence(spark, tmp_path):
    """checkpoint_every=N writes a log checkpoint after every Nth
    committed version: snapshots and txn marks replay from it, time
    travel below it still works (records are kept), and reads equal
    the no-cadence table."""
    from data_ingestion_challenge_spark.txn import _log_dir

    base = spark.createDataFrame([(i, i) for i in range(10)],
                                 "k long, v long")
    t = TxnTable.create(spark, str(tmp_path / "auto"), base, key="k",
                        n_buckets=4)
    t.checkpoint_every = 3
    for i in range(5):  # versions 2..6 → ckpts at v3 and v6
        t.merge_into(spark.createDataFrame([(i, 100 + i)],
                                           "k long, v long"))
    names = set(os.listdir(_log_dir(t.path)))
    assert "ckpt-v0000000003.json" in names
    assert "ckpt-v0000000006.json" in names
    got = {r.k: r.v for r in t.read().collect()}
    assert all(got[i] == 100 + i for i in range(5))
    assert (1, 1) in _rows(t.read(version=2))  # pre-ckpt time travel


def test_expire_log_vintage_schemaless_table(spark, table):
    """A table whose checkpoints carry marks but NO schema (vintage:
    schema was never recorded anywhere) must expire repeatedly —
    the rewrite only triggers on missing MARKS, so routine
    maintenance never rereads already-expired records."""
    import json as _json

    from data_ingestion_challenge_spark.txn import _log_dir

    def strip_schema(ck):
        p = os.path.join(_log_dir(table.path),
                         f"ckpt-v{ck:010d}.json")
        with open(p) as fh:
            d = _json.load(fh)
        d.pop("schema", None)
        with open(p, "w") as fh:
            _json.dump(d, fh)

    table.merge_into(spark.createDataFrame([(5, 1)], "k long, v long"))
    ck = table.checkpoint()
    strip_schema(ck)
    assert table.expire_log() > 0           # first expiry: fine
    table.merge_into(spark.createDataFrame([(6, 2)], "k long, v long"))
    ck2 = table.checkpoint()
    strip_schema(ck2)
    assert table.expire_log() > 0           # second: must NOT refuse
    got = _rows(table.read())
    assert (5, 1) in got and (6, 2) in got


@pytest.mark.parametrize("name", ["merge_upsert_rollup",
                                  "streaming_keyed_upsert"])
def test_registered_merge_gate_equals_batch_rollup(spark, cat, name):
    """Each registered MERGE gate equals the one-shot per-user
    aggregate (its registered oracle's claim) on real data:
    merge_upsert_rollup runs the update, insert and delete arms in
    one commit; streaming_keyed_upsert drives
    accumulate_batch(commit_mode="merge") once per micro-batch."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.plans import QUERIES
    from tests.conftest import SF_DIR
    got = sorted(map(tuple,
                     QUERIES[name](spark, SF_DIR)
                     .select("user_id", "n_events", "value_sum_micros")
                     .collect()))
    micros = F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
    want = sorted(map(tuple,
                      cat.events.groupBy("user_id")
                      .agg(F.count("*").alias("n"), micros.alias("s"))
                      .collect()))
    assert got == want
