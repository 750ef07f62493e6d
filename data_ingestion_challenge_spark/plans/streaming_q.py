"""Streaming-backed query entry (SURVEY.md §2D): the driver's
correctness gate runs the REAL streaming engine end-to-end and checks
the result against a plain batch SQL oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_ingestion_challenge_spark.catalog import Catalog
from data_ingestion_challenge_spark.plans.registry import query
from data_ingestion_challenge_spark.streaming import pipeline
from data_ingestion_challenge_spark.streaming.sessionize import (
    run_sessionize_bounded,
)


@query(
    "streaming_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def streaming_hourly_rollup(cat: Catalog) -> DataFrame:
    return pipeline.run_bounded(cat.spark, f"{cat.sf_dir}/events.parquet")


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_unique_events
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup(cat: Catalog) -> DataFrame:
    """Idempotent re-ingestion on the REAL streaming engine (keyed
    dedup state), gated against the batch distinct-count oracle."""
    return pipeline.run_dedup_bounded(cat.spark, f"{cat.sf_dir}/events.parquet")


@query(
    "streaming_dedup_watermark",
    # Each event is doubled on ingest; the watermark-scoped dedup must
    # collapse the pair back to one — so the oracle is the plain batch
    # count per type.
    oracle="""
    SELECT event_type, count(*) AS n_events_deduped
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_watermark(cat: Catalog) -> DataFrame:
    """dropDuplicatesWithinWatermark on the REAL engine — bounded
    dedup state (ages out with event time), the 100 TB-stream shape of
    streaming_dedup."""
    return pipeline.run_dedup_watermark_bounded(
        cat.spark, f"{cat.sf_dir}/events.parquet")


@query(
    "streaming_incremental_rollup",
    # value_sum accumulates in integral micro-units (exact under ANY
    # micro-batch split), so the incrementally-maintained sink must
    # equal the one-shot batch aggregate bit-for-bit.
    oracle="""
    SELECT date_trunc('day', ts)::TIMESTAMP AS day_ts,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events GROUP BY date_trunc('day', ts)::TIMESTAMP
    """,
)
def streaming_incremental_rollup(cat: Catalog) -> DataFrame:
    """Continuous-aggregate maintenance on the REAL engine: foreachBatch
    commits each micro-batch's (event_type, day) increments as one
    atomic append-delta run (exactly-once via the (app, batch_id) txn
    tag), then the maintained rollup is summed over event_type and
    checked against the one-shot batch oracle — the
    ingest→maintain→serve loop the reference runs, driver-gated."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.scratch import scratch_dir
    from data_ingestion_challenge_spark.streaming.incremental import (
        read_rollup, run_incremental_rollup)

    out = scratch_dir("incr_rollup_out_")
    ck = scratch_dir("incr_rollup_ck_")
    t = run_incremental_rollup(cat.spark, f"{cat.sf_dir}/events.parquet",
                               out, ck, grain="day")
    return (read_rollup(t)
            .groupBy(F.col("bucket_ts").alias("day_ts"))
            .agg(F.sum("n_events").alias("n_events"),
                 F.sum("value_sum_micros").alias("value_sum_micros")))


@query(
    "serving_point_lookup",
    # The keyed serving read: build the bucketed+sorted rollup once,
    # then read ONE key through the bucket-pruned path.  Key choice is
    # deterministic (min user_id), so the oracle is a plain filtered
    # aggregate on the ground truth.
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events
    WHERE user_id = (SELECT min(user_id) FROM events)
    GROUP BY user_id
    """,
)
def serving_point_lookup(cat: Catalog) -> DataFrame:
    """Gates serving.py end-to-end under the driver: layout build
    (write_bucketed), bucket-pruned read (1 file of N), and the
    returned row's values — the reference's per-key read endpoint.
    Executes via serving.point_lookup (the scoped autoBucketedScan=off
    set-execute-restore path) so the rows the driver hashes really
    came through the PRUNED single-bucket scan — returning the lazy
    point_lookup_df here would let driver-side execution re-plan it as
    an all-bucket scan (gate would verify values but not the path)."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark import serving

    rollup = (cat.events.groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
                   .alias("value_sum_micros")))
    key = cat.events.agg(F.min("user_id")).collect()[0][0]
    tmp = scratch_dir("serving_gate_")
    serving.build_keyed_rollup(rollup, "serving_gate_rollup", tmp,
                               key="user_id", n_buckets=8)
    schema = cat.spark.table("serving_gate_rollup").schema
    rows = serving.point_lookup(cat.spark, "serving_gate_rollup",
                                "user_id", key)
    return cat.spark.createDataFrame(rows, schema=schema)


@query(
    "serving_point_lookup_fast",
    # Same verdict as serving_point_lookup, but the rows come through
    # the PLANNERLESS serving path: Murmur3 bucket routing + cached
    # file manifest + Arrow predicate read.  The oracle re-derives the
    # key's aggregate from ground truth, so a wrong bucket hash, a
    # stale manifest, or a broken predicate read all diverge.
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events
    WHERE user_id = (SELECT min(user_id) FROM events)
    GROUP BY user_id
    """,
)
def serving_point_lookup_fast(cat: Catalog) -> DataFrame:
    """Gates serving.point_lookup_fast end-to-end under the driver —
    the latency-grade read endpoint (p50 ~1 ms vs ~65 ms through the
    SQL planner at sf0.1).  Builds the same bucketed layout as
    serving_point_lookup, then reads the key WITHOUT a Spark job."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark import serving

    rollup = (cat.events.groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
                   .alias("value_sum_micros")))
    key = cat.events.agg(F.min("user_id")).collect()[0][0]
    tmp = scratch_dir("serving_fast_gate_")
    serving.build_keyed_rollup(rollup, "serving_fast_gate_rollup", tmp,
                               key="user_id", n_buckets=8)
    schema = cat.spark.table("serving_fast_gate_rollup").schema
    rows = serving.point_lookup_fast(cat.spark,
                                     "serving_fast_gate_rollup",
                                     "user_id", key)
    return cat.spark.createDataFrame(rows, schema=schema)


def _cutoff_rollups(cat: Catalog):
    """(base, updates, top_user): the per-user rollup of the events
    before the mid-span cutoff, the FULL per-user totals of every
    user active after it, and the largest user_id in events."""
    from pyspark.sql import functions as F

    events = cat.events
    lo, hi, top_user = events.agg(F.min("ts"), F.max("ts"),
                                  F.max("user_id")).collect()[0]
    cutoff = lo + (hi - lo) / 2
    micros = F.sum(F.round(F.col("value") * 1000000).cast("bigint")) \
        .alias("value_sum_micros")

    base = (events.where(F.col("ts") < F.lit(cutoff))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"), micros))
    post_users = (events.where(F.col("ts") >= F.lit(cutoff))
                  .select("user_id").distinct())
    updates = (events.join(F.broadcast(post_users), "user_id")
               .groupBy("user_id")
               .agg(F.count("*").alias("n_events"), micros))
    return base, updates, top_user


@query(
    "merge_upsert_rollup",
    # MERGE INTO end-to-end: the target starts as the pre-cutoff
    # per-user rollup; the post-cutoff users' FULL totals are merged
    # in (update for returning users, insert for new ones) and the
    # phantom users seeded into the target are deleted in the same
    # commit.  Users with no post-cutoff activity keep their
    # pre-cutoff totals — which ARE their full totals — so the merged
    # table must equal the one-shot per-user aggregate over all
    # events, bit-for-bit.
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events GROUP BY user_id
    """,
)
def merge_upsert_rollup(cat: Catalog) -> DataFrame:
    """Gates TxnTable.merge_into's delete arm end to end: v1 is the
    pre-cutoff rollup plus three phantom users that never occur in
    events; ONE merge then upserts the post-cutoff totals (WHEN
    MATCHED for returning users, WHEN NOT MATCHED for new ones) and
    deletes the phantoms.  A surviving phantom, or a delete that
    drops a real user, changes the row set and mismatches."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from data_ingestion_challenge_spark.txn import TxnTable

    base, updates, top_user = _cutoff_rollups(cat)
    phantoms = cat.spark.createDataFrame(
        [(top_user + i, i, i * 1000) for i in (1, 2, 3)], base.schema)
    out = scratch_dir("merge_gate_")
    t = TxnTable.create(cat.spark, out, base.unionByName(phantoms),
                        key="user_id", n_buckets=8)
    v = t.merge_into(updates, deletes=phantoms.select("user_id"))
    assert v == 2 and t.version() == 2
    return t.read()


@query(
    "streaming_keyed_upsert",
    # The reference's core loop on the real engine: queue-fed events →
    # per-user state maintained incrementally → serveable layout.
    # Sum-accumulation in integral micros is exact under ANY
    # micro-batch split, so the drained state must equal the one-shot
    # per-user aggregate bit-for-bit.
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events GROUP BY user_id
    """,
)
def streaming_keyed_upsert(cat: Catalog) -> DataFrame:
    """Gates txn.run_keyed_upsert with commit_mode="merge" end to end:
    the streaming engine drains the events source and each micro-batch
    read-modify-writes its touched buckets (read the current per-user
    counters, re-sum with the batch increments, commit one atomic
    MERGE tagged with the batch id); the final snapshot is read back
    against the batch oracle.  streaming_txn_upsert gates the default
    "delta" mode."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from data_ingestion_challenge_spark import txn

    out = scratch_dir("keyed_upsert_out_")
    ck = scratch_dir("keyed_upsert_ck_")
    t = txn.run_keyed_upsert(cat.spark, f"{cat.sf_dir}/events.parquet",
                             out, ck, n_buckets=8, commit_mode="merge")
    return (t.read()
            .select("user_id", "n_events", "value_sum_micros"))


@query(
    "streaming_sessionize",
    # The stateful operator emits a session only once a LATER event
    # proves the 30-min gap; each user's final session is still open in
    # the state store, so the oracle drops every user's last session.
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
    """,
)
def streaming_sessionize(cat: Catalog) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) run
    end-to-end on the real streaming engine, gated against a batch
    window-function oracle."""
    return run_sessionize_bounded(cat.spark, f"{cat.sf_dir}/events.parquet")


@query(
    "streaming_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    """,
)
def streaming_attribution(cat: Catalog) -> DataFrame:
    """Watermarked stream-stream interval join (click→purchase
    attribution) run end-to-end on the streaming engine, gated against
    the identical batch interval join in SQL."""
    return pipeline.run_attribution_bounded(
        cat.spark, f"{cat.sf_dir}/events.parquet")


from data_ingestion_challenge_spark.operators.sketch import (  # noqa: E402
    cms_oracle_sql,
)


@query("streaming_cms_topk", oracle=cms_oracle_sql(10))
def streaming_cms_topk(cat: Catalog) -> DataFrame:
    """CMS built by the streaming engine, served batch-side.  The
    stream-built sketch is bit-identical to the batch sketch (same md5
    hashing, same bucket-wise sums — merge is exact), so the SAME
    DuckDB bucket-replay oracle that checks cms_heavy_hitters checks
    the streamed build end-to-end."""
    return pipeline.run_cms_bounded(cat.spark, f"{cat.sf_dir}/events.parquet")


@query(
    "txn_merge_upsert_rollup",
    # Same MERGE contract as merge_upsert_rollup, but through the
    # COMMIT-LOG table (txn.py): snapshot base, optimistic merge of
    # the post-cutoff totals, snapshot read-back — the merged state
    # must equal the one-shot per-user aggregate bit-for-bit, and the
    # log must hold exactly the two commits.
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events GROUP BY user_id
    """,
)
def txn_merge_upsert_rollup(cat: Catalog) -> DataFrame:
    """Gates the transactional table end-to-end under the driver:
    create v1 from the pre-cutoff rollup, MERGE the post-cutoff
    users' full totals (update + insert through the optimistic commit
    protocol), read the v2 snapshot back.  merge_upsert_rollup gates
    the same merge with a delete arm."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from data_ingestion_challenge_spark.txn import TxnTable

    base, updates, _ = _cutoff_rollups(cat)
    out = scratch_dir("txn_gate_")
    t = TxnTable.create(cat.spark, out, base, key="user_id",
                        n_buckets=8)
    v = t.merge_into(updates)
    assert v == 2 and t.version() == 2
    return t.read()


@query(
    "streaming_txn_upsert",
    # The keyed-upsert loop landing in the TRANSACTIONAL table: one
    # atomic commit per micro-batch with a (app, batch_id) txn tag —
    # the drained snapshot must equal the one-shot per-user aggregate
    # bit-for-bit (sum-accumulation in integral micros is exact under
    # any batch split).
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS value_sum_micros
    FROM events GROUP BY user_id
    """,
)
def streaming_txn_upsert(cat: Catalog) -> DataFrame:
    """Gates txn.run_keyed_upsert end-to-end under the driver: the
    streaming engine drains the events source; each micro-batch
    commits atomically to the commit-log table (exactly-once via the
    txn tag); the final snapshot is read back against the batch
    oracle.  Since r10 the loop commits APPEND-DELTA runs (O(batch)
    write I/O; reads sum-fold per key — value-identical because the
    integral-micro sums commute under any batching), so this gate
    drives the aggregate-merge LSM path end to end.
    streaming_keyed_upsert gates the "merge" mode."""
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from data_ingestion_challenge_spark import txn

    out = scratch_dir("txn_upsert_out_")
    ck = scratch_dir("txn_upsert_ck_")
    t = txn.run_keyed_upsert(cat.spark, f"{cat.sf_dir}/events.parquet",
                             out, ck, n_buckets=8)
    return (t.read()
            .select("user_id", "n_events", "value_sum_micros"))


from data_ingestion_challenge_spark.streaming.admission import (  # noqa: E402
    admission_e2e_oracle_sql,
)


@query(
    "streaming_admission_e2e",
    # The WHOLE admission pipeline, driver-gated: the oracle replays
    # the three-batch sequential screen as pure SQL set algebra over
    # one jaccard-pair table, so any divergence in exact collapse,
    # in-batch dominance, corpus screening, txn replay, or the
    # IN-PLACE AUTO-COMPACTION that runs between batches
    # (compact_every=2) changes a verdict and hash-mismatches.
    oracle=admission_e2e_oracle_sql(n_batches=3, tau=0.8),
)
def streaming_admission_e2e(cat: Catalog) -> DataFrame:
    """Runs the REAL document-admission sink (streaming/admission.py)
    over three sequential batches of the documents table
    (doc_id % 3), with sizes store maintained and in-place posting
    compaction triggered mid-stream, and returns the full admission
    log — one verdict row per arriving doc.  Single caller holds the
    implicit exclusivity the compaction contract needs (the
    production path takes the admission lease)."""
    import os
    from data_ingestion_challenge_spark.scratch import scratch_dir

    from pyspark.sql.functions import col

    from data_ingestion_challenge_spark.streaming.admission import (
        document_admission_sink,
    )

    base = scratch_dir("adm_e2e_")
    dirs = {k: os.path.join(base, k)
            for k in ("table", "postings", "log", "sizes")}
    admit, _table = document_admission_sink(
        cat.spark, dirs["table"], dirs["postings"], dirs["log"],
        sizes_dir=dirs["sizes"], compact_every=2)
    docs = cat.documents.select("doc_id", "text", "lang", "source")
    for b in range(3):
        admit(docs.where(col("doc_id") % 3 == b), b)
    return (cat.spark.read.option("basePath", dirs["log"])
            .parquet(dirs["log"])
            .select("doc_id", "kept", "dup_of", "jaccard"))
