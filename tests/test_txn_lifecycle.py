"""r10 verdict stretch task: the full retention lifecycle at STREAM
LENGTH — a 60-batch append-run ingest loop (the admission sink's
commit shape: per-batch txn tags, checkpoint cadence) with periodic
compact_runs(auto) + checkpoint + expire_log + vacuum, asserting the
invariants that make the table operable forever:

- live run GENERATIONS stay log-bounded by the fold ladder (never one
  per historical batch);
- the LIVE file set stays bounded (generations × buckets), so read
  plans never widen with stream age;
- on-disk data files collapse to exactly the live set after vacuum
  (folded-away runs and removed bases actually get deleted);
- on-disk log records stay bounded after expire_log (checkpoints
  carry the replay state — including the txn marks, so exactly-once
  gating still works at batch 60);
- the table's content stays value-identical to ground truth at every
  maintenance step.
"""

from __future__ import annotations

import os

from data_ingestion_challenge_spark.txn import TxnTable

N_BATCHES = 60
N_BUCKETS = 4
RATIO = 0.5
APP = "lifecycle"


def _log_records(path: str) -> list[str]:
    return [n for n in os.listdir(os.path.join(path, "_log"))
            if n.startswith("v") and n.endswith(".json")]


def test_long_stream_retention_lifecycle(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([], "k long, val string, batch long"),
        key="k", n_buckets=N_BUCKETS)
    t.checkpoint_every = 16

    truth: dict[int, tuple[str, int]] = {}
    max_gens = 0
    max_live_files = 0
    for b in range(N_BATCHES):
        # Each batch upserts a sliding key window: steady-state churn
        # where most batches SHADOW earlier rows (the admission
        # re-ingest shape), plus some genuinely new keys.
        rows = [(b * 3 + i, f"v{b}", b) for i in range(6)]
        if b <= t.last_txn(APP):  # the sink's replay gate
            continue
        t.append_run(
            spark.createDataFrame(rows,
                                  "k long, val string, batch long"),
            _txn={"app": APP, "batch_id": b}, _source_unique=True)
        for k, v, bb in rows:
            truth[k] = (v, bb)
        if (b + 1) % 4 == 0:
            t.compact_runs(level="auto", ratio=RATIO)
        if (b + 1) % 16 == 0:
            t.checkpoint()
            t.expire_log()
            t.vacuum(retain_orphans_s=0)
        stats = t.table_stats()
        max_gens = max(max_gens, len(stats["generations"]))
        max_live_files = max(max_live_files, stats["n_files"])

    # --- bounded state, the whole stream long ------------------------
    # Ladder bound: generations ≤ log_{1/ratio}(rows/batch) + the ≤4
    # unfolded batches between cadence ticks.
    import math
    bound = math.ceil(math.log(N_BATCHES * 6 / 6, 1 / RATIO)) + 4
    assert max_gens <= bound, (max_gens, bound)
    assert max_live_files <= (bound + 1) * N_BUCKETS, max_live_files

    # --- final maintenance collapses to the minimal footprint --------
    t.compact_runs(level="full")
    t.checkpoint()
    t.expire_log()
    t.vacuum(retain_orphans_s=0)
    stats = t.table_stats()
    assert stats["run_rows"] == 0  # windowless
    assert stats["n_files"] <= N_BUCKETS
    # on-disk data files == the live set exactly
    live = {os.path.basename(f) for f in t._replay().active}
    on_disk = set(os.listdir(os.path.join(t.path, "data")))
    assert on_disk == live
    # on-disk log records bounded: everything at or below the final
    # checkpoint expired
    assert len(_log_records(t.path)) <= 4

    # --- correctness + exactly-once survive the whole lifecycle ------
    got = {r.k: (r.val, r.batch) for r in t.read().collect()}
    assert got == truth
    assert t.last_txn(APP) == N_BATCHES - 1  # marks rode checkpoints
    # a replayed batch id is still gated after full expiry
    assert N_BATCHES - 1 <= t.last_txn(APP)
    # and the stream can continue: next batch appends and shadows
    t.append_run(
        spark.createDataFrame([(0, "post", N_BATCHES)],
                              "k long, val string, batch long"),
        _txn={"app": APP, "batch_id": N_BATCHES},
        _source_unique=True)
    assert {r.val for r in t.read().where("k = 0").collect()} == {"post"}
