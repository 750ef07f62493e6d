"""Streaming pipeline tests: bounded drain matches batch; jsonl
directory-watch ingestion processes late-arriving drops."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_ingestion_challenge_spark.sources.streams import jsonl_stream
from data_ingestion_challenge_spark.streaming.pipeline import run_bounded
from data_ingestion_challenge_spark.streaming.sessionize import (
    run_sessionize_bounded,
)

from tests.conftest import SF_DIR


def test_bounded_stream_matches_batch(spark, cat):
    got = {r["hour_ts"]: (r["n_events"], r["total_value"])
           for r in run_bounded(spark, f"{SF_DIR}/events.parquet").collect()}
    want = {r["hour_ts"]: (r["n_events"], r["total_value"])
            for r in (cat.events
                      .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
                      .agg(F.count("*").alias("n_events"),
                           F.round(F.sum("value"), 2).alias("total_value"))
                      ).collect()}
    assert got == want


def test_jsonl_stream_ingests_drops(spark, tmp_path):
    watch = tmp_path / "drops"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    watch.mkdir()

    def drop(name, rows):
        with open(watch / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    drop("batch1.jsonl", [
        {"event_id": 1, "ts": "2024-01-01 00:00:01", "user_id": 7,
         "event_type": "click", "value": 1.5, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 00:30:00", "user_id": 8,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ])

    stream = jsonl_stream(spark, str(watch))
    q = (stream.writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert {r["user_id"] for r in got.collect()} == {7, 8}

    # A later drop is picked up by the next trigger from the same
    # checkpoint — exactly-once file tracking.
    drop("batch2.jsonl", [
        {"event_id": 3, "ts": "2024-01-01 01:00:00", "user_id": 9,
         "event_type": "click", "value": 3.0, "props": "{}"}])
    q2 = (jsonl_stream(spark, str(watch)).writeStream.format("parquet")
          .option("path", str(out))
          .option("checkpointLocation", str(ckpt))
          .trigger(availableNow=True)
          .start())
    q2.awaitTermination()
    assert spark.read.parquet(str(out)).count() == 3
    assert os.path.isdir(str(ckpt))


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """Per-user session state must survive micro-batch boundaries: the
    first drop opens a session, the second (a later trigger from the
    same checkpoint) closes it, so the completed session only appears
    after batch 2."""
    from data_ingestion_challenge_spark.streaming.sessionize import (
        OUTPUT_SCHEMA, sessionize_stream)

    src = tmp_path / "events"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def drop(name, rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "stage" / name))
        import glob
        import shutil
        part = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    def drain():
        from data_ingestion_challenge_spark.streaming.pipeline import build_source
        q = (sessionize_stream(build_source(spark, str(src)))
             .writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.schema(OUTPUT_SCHEMA).parquet(str(out))

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    drop("b1", [(1, t0, 7, "click", 1.0, "{}"),
                (2, t0 + dt.timedelta(minutes=5), 7, "view", 1.0, "{}")])
    assert drain().count() == 0  # session still open → nothing emitted

    # 40 min later: proves the 30-min gap, closing session 1 — state
    # survived the micro-batch boundary via the checkpoint state store.
    drop("b2", [(3, t0 + dt.timedelta(minutes=45), 7, "click", 1.0, "{}")])
    rows = drain().collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == 7
    assert rows[0]["session_start"] == t0
    assert rows[0]["session_end"] == t0 + dt.timedelta(minutes=5)
    assert rows[0]["n_events"] == 2


def _keyed_ref(df, grain):
    """One-shot batch (event_type, grain-bucket) aggregate — the
    reference every maintained rollup must equal."""
    return sorted(
        (tuple(r) for r in df.groupBy(
            "event_type",
            F.date_trunc(grain, "ts").alias("bucket_ts"))
         .agg(F.count("*").alias("n_events"),
              F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
              .alias("value_sum_micros")).collect()),
        key=repr)


def _rollup_rows(t):
    from data_ingestion_challenge_spark.streaming.incremental import (
        read_rollup,
    )
    return sorted((tuple(r) for r in read_rollup(t).collect()), key=repr)


def _drop_file(tmp_path, src, df, name):
    """Land `df` in the watched dir `src` as ONE parquet file."""
    import glob
    import shutil
    stage = tmp_path / "stage" / name
    df.coalesce(1).write.parquet(str(stage))
    part = glob.glob(str(stage / "part-*.parquet"))[0]
    shutil.copy(part, src / f"{name}.parquet")


def test_incremental_rollup_equals_recompute(spark, tmp_path, cat):
    """The foreachBatch-maintained day-grain rollup must equal a
    from-scratch batch aggregation after every incremental drain."""
    from data_ingestion_challenge_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    src = tmp_path / "events"
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    full = cat.events.orderBy("event_id").limit(400).localCheckpoint()
    half1 = full.where(F.col("event_id") % 2 == 0)
    half2 = full.where(F.col("event_id") % 2 == 1)

    _drop_file(tmp_path, src, half1, "b1")
    t = run_incremental_rollup(spark, str(src), out, ckpt, grain="day")
    assert _rollup_rows(t) == _keyed_ref(half1, "day")

    # second drain commits only the new file's increments
    _drop_file(tmp_path, src, half2, "b2")
    t = run_incremental_rollup(spark, str(src), out, ckpt, grain="day")
    assert _rollup_rows(t) == _keyed_ref(full, "day")


def test_incremental_rollup_replay_is_idempotent(spark, tmp_path, cat):
    """A replayed micro-batch (write committed, checkpoint commit lost)
    must NOT double-count: re-accumulating the same batch id on the
    rollup table is skipped whole by the (app, batch_id) txn tag,
    while a NEW id still merges into the same keys."""
    from data_ingestion_challenge_spark.streaming.incremental import (
        _rollup_table, commit_batch,
    )

    t = _rollup_table(spark, str(tmp_path / "rollup"))
    batch = cat.events.orderBy("event_id").limit(300).localCheckpoint()

    assert commit_batch(t, batch, 0, "day") is not None
    before = _rollup_rows(t)
    v = t.version()
    # replay of batch 0 against the committed table: must be a no-op
    assert commit_batch(t, batch, 0, "day") is None
    assert t.version() == v and _rollup_rows(t) == before
    # a genuinely NEW batch still merges
    commit_batch(t, batch, 1, "day")
    doubled = sorted(((e, b, 2 * n, 2 * s) for e, b, n, s in before),
                     key=repr)
    assert _rollup_rows(t) == doubled and before


def test_keyed_rollup_equals_batch_groupby(spark, tmp_path):
    """The maintained (event_type, hour) rollup must equal a one-shot
    groupBy over the SAME drained stream row for row, including after
    a run fold, and a re-drain with the same checkpoint must be a
    no-op (exactly-once through the txn log)."""
    import os

    from data_ingestion_challenge_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    src_dir = str(tmp_path / "src")
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    events.repartition(4).write.mode("overwrite").parquet(src_dir)
    want = _keyed_ref(events, "hour")

    d_out, d_ck = str(tmp_path / "d"), str(tmp_path / "dck")
    t = run_incremental_rollup(spark, src_dir, d_out, d_ck,
                               compact_every=2)
    assert _rollup_rows(t) == want and want
    # re-drain: checkpoint resumes, nothing recommitted
    v = t.version()
    t2 = run_incremental_rollup(spark, src_dir, d_out, d_ck)
    assert t2.version() == v
    assert _rollup_rows(t2) == want
    # the full fold keeps the decode exact (windowless table)
    t2.compact_runs(level="full")
    assert _rollup_rows(t2) == want


def test_incremental_rollup_refuses_fresh_checkpoint(spark, tmp_path,
                                                     cat):
    """Resuming an existing rollup under a FRESH checkpoint must
    raise: batch ids would restart at 0 and the txn log would skip
    the new file's batch as a replay, silently losing it.  A later
    drain under the ORIGINAL checkpoint still resumes."""
    import pytest

    from data_ingestion_challenge_spark.streaming.incremental import (
        run_incremental_rollup,
    )

    src = tmp_path / "events"
    out = str(tmp_path / "rollup")
    src.mkdir()
    ev = cat.events.localCheckpoint()
    n = ev.count()
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)

    def total(t):
        return sum(r[2] for r in _rollup_rows(t))

    _drop_file(tmp_path, src, a, "a")
    t = run_incremental_rollup(spark, str(src), out,
                               str(tmp_path / "ck1"))
    assert total(t) == a.count()

    # the drop is cleaned up and the next one lands
    (src / "a.parquet").unlink()
    _drop_file(tmp_path, src, b, "b")
    with pytest.raises(ValueError, match="fresh checkpoint"):
        run_incremental_rollup(spark, str(src), out,
                               str(tmp_path / "ck2"))

    t = run_incremental_rollup(spark, str(src), out,
                               str(tmp_path / "ck1"))
    assert total(t) == n


def test_engine_maintain_rollup_equals_day_aggregate(spark, tmp_path,
                                                     cat):
    """Engine.maintain_rollup over two drops: after each drain the
    maintained rollup, summed over event_type, equals the one-shot
    per-day aggregate of everything landed so far."""
    from collections import Counter

    from data_ingestion_challenge_spark.api import Engine

    eng = Engine(SF_DIR, spark=spark)
    src = tmp_path / "events"
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    full = cat.events.localCheckpoint()
    first = full.where(F.col("event_id") % 3 == 0)

    def per_day(rows):
        n, v = Counter(), Counter()
        for _, day, cnt, micros in rows:
            n[day] += cnt
            v[day] += micros
        return {d: (n[d], v[d]) for d in n}

    _drop_file(tmp_path, src, first, "d1")
    t = eng.maintain_rollup(str(src), out, ckpt)
    assert per_day(_rollup_rows(t)) == per_day(_keyed_ref(first, "day"))

    _drop_file(tmp_path, src,
               full.where(F.col("event_id") % 3 != 0), "d2")
    t = eng.maintain_rollup(str(src), out, ckpt)
    assert per_day(_rollup_rows(t)) == per_day(_keyed_ref(full, "day"))


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics end-to-end: an event arriving after the
    watermark passed its window is DROPPED — the finalized window's
    count never changes and no duplicate row appears."""
    from pyspark.sql import functions as F2

    from data_ingestion_challenge_spark.streaming.pipeline import build_source

    src = tmp_path / "events"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def drop(name, rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string, value double, props string"
        ).coalesce(1).write.parquet(str(tmp_path / "stage" / name))
        import glob
        import shutil
        part = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    def drain():
        q = (build_source(spark, str(src))
             .withWatermark("ts", "1 hour")
             .groupBy(F2.window("ts", "1 hour").alias("win"))
             .agg(F2.count("*").alias("n"))
             .select(F2.col("win.start").alias("ws"), "n")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return {(r["ws"], r["n"]) for r in
                spark.read.schema("ws timestamp, n bigint")
                .parquet(out).collect()}

    import datetime as dt
    t = dt.datetime(2024, 1, 1)

    # batch 1: event in the 00:00 window + one at 05:00 → watermark
    # advances to 04:00, finalizing (emitting) the 00:00 window.
    drop("b1", [(1, t + dt.timedelta(minutes=10), 1, "click", 1.0, "{}"),
                (2, t + dt.timedelta(hours=5), 2, "view", 1.0, "{}")])
    assert drain() == {(t, 1)}

    # batch 2: a LATE event for the finalized 00:00 window (dropped)
    # + one at 07:00 (advances watermark → 05:00 window emitted).
    drop("b2", [(3, t + dt.timedelta(minutes=20), 3, "click", 1.0, "{}"),
                (4, t + dt.timedelta(hours=7), 4, "view", 1.0, "{}")])
    got = drain()
    assert got == {(t, 1), (t + dt.timedelta(hours=5), 1)}, \
        f"late event must be dropped, 00:00 stays at 1: {got}"


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Duplicate event_ids inside the watermark horizon are filtered;
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    from data_ingestion_challenge_spark.sources.streams import dedup_stream
    from data_ingestion_challenge_spark.streaming.pipeline import build_source

    src = tmp_path / "events"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    import datetime as dt
    t = dt.datetime(2024, 1, 1)
    rows = [(1, t, 7, "click", 1.0, "{}"),
            (1, t + dt.timedelta(minutes=1), 7, "click", 1.0, "{}"),  # dup
            (2, t + dt.timedelta(minutes=2), 8, "view", 2.0, "{}"),
            (2, t + dt.timedelta(minutes=3), 8, "view", 2.0, "{}"),   # dup
            (3, t + dt.timedelta(minutes=4), 9, "error", 0.5, "{}")]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string"
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob
    import shutil
    shutil.copy(glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0],
                src / "b1.parquet")

    q = (dedup_stream(build_source(spark, str(src)))
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = (spark.read
           .schema("event_id bigint, ts timestamp, user_id bigint, "
                   "event_type string, value double, props string")
           .parquet(out))
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]


def test_kafka_stream_raises_without_connector(spark):
    import pytest as _pytest

    from data_ingestion_challenge_spark.sources.streams import kafka_stream
    with _pytest.raises(ImportError, match="spark-sql-kafka"):
        kafka_stream(spark, "localhost:9092", "events")


def test_attribution_join_across_batches(spark, tmp_path):
    """Stream-stream interval join: clicks arriving in an EARLIER
    micro-batch than their purchase still match (join state buffers
    across triggers; maxFilesPerTrigger=1 forces separate batches)."""
    from datetime import datetime

    from data_ingestion_challenge_spark.streaming.pipeline import (
        run_attribution_bounded)

    def ev(eid, ts_min, uid, etype):
        return (eid, datetime(2024, 1, 1, 10, ts_min), uid, etype, 1.0, "{}")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import glob
    import shutil

    src = str(tmp_path / "ev"); os.makedirs(src)

    def land(name, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(stage)
        shutil.copy(glob.glob(stage + "/part-*.parquet")[0],
                    os.path.join(src, name + ".parquet"))

    # batch 1: two clicks (u1 in-window, u2 will be out of window)
    land("f1", [ev(1, 0, 1, "click"), ev(2, 0, 2, "click")])
    # batch 2: u1 purchase 20 min later (match), u2 purchase 40 min
    # later (outside the 30-min window), u3 purchase with no click
    land("f2", [ev(3, 20, 1, "purchase"), ev(4, 40, 2, "purchase"),
                ev(5, 20, 3, "purchase")])

    got = run_attribution_bounded(spark, src).collect()
    assert [(r.purchase_id, r.click_id, r.user_id, r.gap_s)
            for r in got] == [(3, 1, 1, 1200)]


def test_streaming_cms_equals_batch_sketch(spark):
    """The stream-built sketch serves IDENTICAL top-k estimates to the
    batch count-min sketch (bucket-wise merge is exact)."""
    from data_ingestion_challenge_spark.plans import QUERIES
    from tests.conftest import SF_DIR
    got = QUERIES["streaming_cms_topk"](spark, SF_DIR).collect()
    want = QUERIES["cms_heavy_hitters"](spark, SF_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_keyed_rollup_null_event_type(spark, tmp_path):
    """A null event_type must round-trip the composite key: the
    rollup groups and decodes it as a genuine NULL, row-identical to
    a one-shot groupBy (concat_ws would have silently dropped the
    separator and fabricated the epoch as the type), and a '|' inside
    the type never corrupts the decode."""
    from datetime import datetime

    from data_ingestion_challenge_spark.streaming.incremental import (
        _rollup_table, commit_batch,
    )

    rows = [(None, datetime(2024, 1, 1, 5, 10), 1.0),
            (None, datetime(2024, 1, 1, 5, 40), 2.0),
            ("click", datetime(2024, 1, 1, 5, 20), 4.0),
            ("5|weird|type", datetime(2024, 1, 1, 6, 5), 8.0)]
    batch = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double")

    t = _rollup_table(spark, str(tmp_path / "d"))
    commit_batch(t, batch, 0)
    got = _rollup_rows(t)
    assert got == _keyed_ref(batch, "hour")
    by_type = {r[0]: r for r in got}
    assert None in by_type and by_type[None][2] == 2  # both null rows
    assert "5|weird|type" in by_type  # '|' in the type never corrupts