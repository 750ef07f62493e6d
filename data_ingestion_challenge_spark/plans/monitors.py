"""Ops-monitor / curation-audit batch (SURVEY.md §2A/§2C): the
Pareto-head concentration alarm, the robust (median/MAD) volume
monitor — batch AND continuously-maintained-streaming variants — the
behavioral-entropy bot smell, and the embedding-space mislabel audit.

Parity notes: power_user_concentration's centile membership is exact
ntile(100) in both engines (Spark side via ranking.global_ntile — the
distributed rank, never a single-task global sort; the oracle keeps
DuckDB's plain ntile spelling so any drift in the distributed rank
shows as a hash mismatch).  hourly_anomaly_mad pairs Spark
``percentile`` with DuckDB ``quantile_cont`` on integer counts, so
median/MAD land on exact .0/.5 doubles.  user_event_type_entropy
rounds each entropy term to 1e-9 and sums as DECIMAL(30,9) (the repo's
summation-order-independent exact-sum pattern).  label_outlier_vectors
quantizes elements to integer micros and represents each centroid by
its un-normalized integer sum vector, so the cosine is ONE double
expression over exact integers in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_ingestion_challenge_spark.catalog import Catalog
from data_ingestion_challenge_spark.operators import embstats as E
from data_ingestion_challenge_spark.operators import stats as ST
from data_ingestion_challenge_spark.plans.registry import query

# ------------------------------------------ streaming MAD monitor


@query(
    "streaming_anomaly_monitor",
    # The maintained (event_type, hour) continuous aggregate feeds
    # the MAD monitor; the oracle is the ONE-SHOT batch monitor over
    # ground truth — maintained state must equal a full recompute
    # bit-for-bit (counts merge exactly under any micro-batch split).
    oracle=ST.HOURLY_ANOMALY_MAD_ORACLE,
)
def streaming_anomaly_monitor(cat: Catalog) -> DataFrame:
    """Streaming-maintenance × operator composition on the REAL
    engine: run_incremental_rollup drains the bounded source
    committing each micro-batch's (event_type, hour) increments as
    ONE atomic O(batch) append-delta run (TxnTable.accumulate_batch
    commit_mode="delta"), then mad_score_hourly reads the maintained
    rollup — the monitor never re-scans event history, so each
    evaluation costs O(|types|·|hours|) regardless of stream
    length."""
    from pyspark.sql import functions as F

    from data_ingestion_challenge_spark.scratch import scratch_dir
    from data_ingestion_challenge_spark.streaming.incremental import (
        read_rollup, run_incremental_rollup,
    )

    out = scratch_dir("anom_rollup_out_")
    ck = scratch_dir("anom_rollup_ck_")
    t = run_incremental_rollup(
        cat.spark, f"{cat.sf_dir}/events.parquet", out, ck)
    h = (read_rollup(t)
         .select("event_type",
                 F.col("bucket_ts").alias("hour_ts"),
                 F.col("n_events").alias("n")))
    return ST.mad_score_hourly(h)


# ------------------------------------------- batch MAD monitor


@query("hourly_anomaly_mad", oracle=ST.HOURLY_ANOMALY_MAD_ORACLE)
def hourly_anomaly_mad(cat: Catalog) -> DataFrame:
    """Robust per-(type, hour) volume anomaly: |n − median| > 3·MAD
    of the type's own hourly distribution (operators/stats.py) — one
    corpus scan collapsing map-side to |types|×|hours| rows, then two
    tiny per-type aggregates broadcast back."""
    return ST.hourly_anomaly_mad(cat.events)


# ------------------------------------------ Pareto concentration


@query("power_user_concentration",
       oracle=ST.POWER_USER_CONCENTRATION_ORACLE)
def power_user_concentration(cat: Catalog) -> DataFrame:
    """One-row head-concentration audit: event share of the top
    1/5/10% of users, centiles via the DISTRIBUTED exact ntile
    (operators/ranking.global_ntile: range repartition +
    per-partition row_number + broadcast offsets — no single-task
    data-sized sort survives in the plan)."""
    return ST.power_user_concentration(cat.events)


# ------------------------------------------- behavioral entropy


@query("user_event_type_entropy",
       oracle=ST.USER_EVENT_TYPE_ENTROPY_ORACLE)
def user_event_type_entropy(cat: Catalog) -> DataFrame:
    """Per-user Shannon entropy (bits) of the event-type mix — 0 =
    single-type automation, high = organic usage.  One
    map-side-combined groupBy (user, type) then a same-key window +
    groupBy user: a single exchange end-to-end."""
    return ST.user_event_type_entropy(cat.events)


# ------------------------------------------ mislabel/outlier audit


_LOV_K = 25


@query("label_outlier_vectors",
       oracle=E.label_outlier_oracle_sql(k=_LOV_K))
def label_outlier_vectors(cat: Catalog) -> DataFrame:
    """Bottom-k vectors by cosine to their own label centroid
    (operators/embstats.py) — the geometric mislabel audit next to
    the text-side source_outlier_score.  Linear: one shuffle over
    n·d integer-quantized elements; bottom-k is TakeOrdered and the
    rank window sees only k rows."""
    return E.label_outlier_vectors(cat.embeddings, k=_LOV_K)
