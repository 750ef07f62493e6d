"""Incremental rollup maintenance: the continuous-aggregate pattern.

An ingestion pipeline doesn't recompute its serving rollups from
scratch per batch — it folds each micro-batch's increments into the
maintained state.  `run_incremental_rollup` wires that with
foreachBatch over a TxnTable (txn.py):

  per batch:  per-(event_type, grain-bucket) increments
              (n_events, value_sum_micros) →
              TxnTable.accumulate_batch(commit_mode="delta")

Each batch commits as ONE atomic O(batch) append-delta run tagged
(app, batch_id): reads fold the runs per key, and the run ladder is
folded every ``compact_every`` commits.  Exactly-once under crash
replay comes from the log — a replayed batch whose id is already
committed is skipped whole, which is sound because the commit is
atomic.  Sums are integral micro-units, so the maintained state is
exact under any batching of the input.  The same table serves every
grain: the registered per-day gate sums the keyed rows over
event_type.

Resuming needs the SAME stream checkpoint: a fresh checkpoint
restarts batch ids at 0, and the log would skip every new batch as a
replay — the runner refuses that case before the stream starts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

_APP = "keyed_rollup"


def _rollup_table(spark: SparkSession, out_dir: str,
                  n_buckets: int = 8):
    """Open (or create empty) the rollup table.  The composite
    (event_type, bucket_ts) key rides as ONE string column
    '<epoch seconds>|T<event_type>' ('|N' for a null type — see
    rollup_increments) — epoch FIRST so decoding splits on the first
    '|' and an event_type containing '|' can never corrupt the
    timestamp; epoch seconds are injective over bucket instants in
    any session timezone (a wall-clock 'yyyy-MM-dd-HH' string maps
    the DST fall-back's two hours to one key)."""
    from data_ingestion_challenge_spark.txn import TxnTable

    t = TxnTable(spark, out_dir, key="k", n_buckets=n_buckets,
                 checkpoint_every=16)
    if t.version() == 0:
        t = TxnTable.create(
            spark, out_dir,
            spark.createDataFrame(
                [], "k string, n_events bigint, value_sum_micros bigint"),
            key="k", n_buckets=n_buckets)
        t.checkpoint_every = 16
    return t


def rollup_increments(df: DataFrame, grain: str = "hour") -> DataFrame:
    """One micro-batch's per-key increments in the rollup table's
    shape.  The key encoding is NULL-SAFE: concat_ws would silently
    DROP a null event_type (yielding a separator-less key whose
    decode fabricates the epoch as the type), so the type rides a
    one-char tag — 'T<type>' for present, 'N' for null — after the
    epoch and its '|'."""
    tagged = (F.when(col("event_type").isNull(), F.lit("N"))
              .otherwise(F.concat(F.lit("T"), col("event_type"))))
    return (df.groupBy(
        F.concat(
            F.unix_timestamp(
                F.date_trunc(grain, col("ts"))).cast("string"),
            F.lit("|"), tagged).alias("k"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(col("value") * 1000000).cast("bigint"))
             .alias("value_sum_micros")))


def commit_batch(t, batch_df: DataFrame, batch_id: int,
                 grain: str = "hour") -> int | None:
    """Commit one micro-batch's increments to the rollup table as one
    append-delta run tagged (app, batch_id).  Returns the committed
    version, or None for a replay of an already-committed id."""
    return t.accumulate_batch(
        rollup_increments(batch_df, grain), batch_id,
        sum_cols=["n_events", "value_sum_micros"],
        app=_APP, commit_mode="delta")


def _refuse_fresh_checkpoint(t, out_dir: str, checkpoint: str) -> None:
    """Spark writes offsets/N before batch N runs, so a checkpoint
    that has ever started a batch has an offsets entry — a crash
    replay under the same checkpoint always passes.  A table holding
    commits with NO such entry is being resumed from a fresh
    checkpoint: its batch ids restart at 0 and every new batch would
    be skipped as a replay."""
    last = t.last_txn(_APP)
    if last < 0:
        return
    try:
        started = any(e.isdigit() for e in
                      os.listdir(os.path.join(checkpoint, "offsets")))
    except FileNotFoundError:
        started = False
    if not started:
        raise ValueError(
            f"{out_dir}: rollup already holds batches up to "
            f"{last} but checkpoint {checkpoint} has "
            f"never started one — a fresh checkpoint restarts batch "
            f"ids at 0 and every new batch would be skipped as a "
            f"replay.  Resume with the table's original checkpoint, "
            f"or rebuild into a new out_dir.")


def run_incremental_rollup(spark: SparkSession, events_path: str,
                           out_dir: str, checkpoint: str,
                           grain: str = "hour",
                           compact_every: int = 8):
    """Drain the bounded source (availableNow; call again after new
    files land — the checkpoint resumes where ingestion left off)
    maintaining the (event_type, ``grain``) continuous aggregate at
    out_dir.  ``compact_every`` folds the run ladder every N committed
    batches (guarded: maintenance never fails a commit).  Returns the
    TxnTable; decode it with read_rollup."""
    from data_ingestion_challenge_spark.streaming.pipeline import (
        build_source,
    )

    t = _rollup_table(spark, out_dir)
    _refuse_fresh_checkpoint(t, out_dir, checkpoint)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        v = commit_batch(t, batch_df, batch_id, grain)
        if (v is not None and compact_every
                and v % compact_every == 0):
            try:
                t.compact_runs(level="auto")
            except Exception as exc:
                # Maintenance must never fail a commit — but a
                # persistently failing fold would silently unbound
                # the run ladder, so it must be AUDIBLE.
                import sys
                print(f"keyed rollup: run fold failed (will retry "
                      f"next cadence): {exc!r}", file=sys.stderr)

    q = (build_source(spark, events_path)
         .writeStream
         .foreachBatch(_merge)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return t


def read_rollup(table) -> DataFrame:
    """Decode the rollup table to (event_type, bucket_ts, n_events,
    value_sum_micros).  The 'N' tag decodes back to a genuine NULL
    event_type."""
    df = table.read()
    tail = F.expr("substring(k, instr(k, '|') + 1)")
    return df.select(
        F.when(tail == "N", F.lit(None).cast("string"))
        .otherwise(F.expr("substring(k, instr(k, '|') + 2)"))
        .alias("event_type"),
        F.timestamp_seconds(
            F.substring_index(col("k"), "|", 1).cast("long"))
        .alias("bucket_ts"),
        "n_events", "value_sum_micros")
