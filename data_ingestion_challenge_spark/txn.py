"""Transactional keyed table: a minimal Delta-style commit log over
plain parquet — snapshot-isolated reads, atomic commits, and
OPTIMISTIC multi-writer MERGE — built from nothing but immutable
uuid-named data files and an atomic version-file claim (tmp-write +
hard-link: the record is either fully present or absent).

This is the repo's one keyed MERGE (upsert + delete): two concurrent
writers both SUCCEED, serialized by the log — the ACID table format a
plain copy-on-write parquet layout cannot give without a writer lock.

Layout:

    <dir>/_log/v0000000001.json     commit records, one per version
    <dir>/data/<uuid>-b<K>.parquet  immutable data files, one bucket each

A commit record lists the files it adds and removes (with their
Murmur3 key-buckets).  Table state at version N = replay of records
1..N; a data file is INVISIBLE until some commit references it, so a
crashed writer leaves only harmless orphans (collected by vacuum()).

Commit protocol (the Delta/Iceberg shape on a filesystem with atomic
exclusive-create — local disk, NFS, HDFS; object stores need a
put-if-absent or a DynamoDB-style lock service):

1. snapshot: read the log head (version V, active file set);
2. stage: write the merged buckets as NEW uuid files under data/;
3. claim: write the full record to a tmp file, hard-link it to
   _log/v{V+1}.json — exactly one writer wins a version, and the
   record publishes atomically WITH its body;
4. on loss: diff the interleaved commits' buckets against ours —
   DISJOINT → our staged files are still valid, re-claim V+2 with no
   recompute; OVERLAP → a competing writer rewrote a bucket we read,
   so drop our staged files and redo the merge from the new snapshot
   (classic optimistic concurrency, conflict = bucket intersection).

Table state at a version comes from ONE replay (_replay: the newest
checkpoint plus the records above it) and every read from ONE merged
read (_read) through the schema the log records — so building a read
plans no schema-inference job.  At 100 TB the log is O(commits) tiny
JSON files: checkpoint() compacts the replay into one
_log/ckpt-v{N}.json (Delta's _last_checkpoint shape) and expire_log()
drops the records beneath it, so a replay stays O(commits since the
checkpoint); data files are bucket-sized parquet, and a merge still
rewrites only touched buckets.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.types import StructType

_BUCKET = "_bucket"
_LOG = "_log"
_DATA = "data"
_RUN_OPS = ("append-run", "append-delta", "fold-runs")


class CommitConflictError(RuntimeError):
    """Raised when max_retries optimistic attempts all lost their
    version claim to competing writers."""


@dataclass
class _Replay:
    """Table state at one version — the record _replay returns and
    every read, commit and maintenance call works from."""
    version: int
    active: dict[str, int]      # live relative path -> bucket
    added_at: dict[str, int]    # live path -> latest-wins rank
    runs: set[str]              # live append-run/append-delta/fold files
    delta: set[str]             # the sum-merge subset of runs
    txns: dict[str, int]        # {app: highest committed batch_id}
    schema: str | None          # StructType JSON; None on vintage tables
    carried_marks: bool         # False: marks below a legacy ckpt lost


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _version_file(path: str, v: int) -> str:
    return os.path.join(_log_dir(path), f"v{v:010d}.json")


def _ckpt_file(path: str, v: int) -> str:
    return os.path.join(_log_dir(path), f"ckpt-v{v:010d}.json")


def _ckpt_versions(names) -> list[int]:
    """Versions of the checkpoint files among log-dir entries,
    ascending — the one parser of ``ckpt-v`` names."""
    return sorted(int(n[6:16]) for n in names
                  if n.startswith("ckpt-v") and n.endswith(".json"))


def _struct(schema_json: str) -> StructType:
    return StructType.fromJson(json.loads(schema_json))


def _check_schema(df: DataFrame, schema_json: str) -> None:
    """Refuse a frame whose column names or types differ from the
    recorded table schema (nullability aside): reads pass that
    schema to every scan, so a drifted file would otherwise read
    with whatever type the recorded one coerces it to."""
    want = {f.name: f.dataType.simpleString()
            for f in _struct(schema_json)}
    got = {f.name: f.dataType.simpleString() for f in df.schema}
    if got != want:
        bad = sorted(c for c in want.keys() | got.keys()
                     if want.get(c) != got.get(c))
        raise ValueError(
            f"commit schema diverges from the table schema on {bad} "
            f"(frame { {c: got.get(c) for c in bad} } vs table "
            f"{ {c: want.get(c) for c in bad} }) — every commit must "
            f"match the table schema (for deltas: the summed schema), "
            f"type-identical")


class TxnTable:
    """A keyed, bucket-partitioned table with a commit log.

    Like SQL MERGE, `merge_into` requires at most one
    update row per key; a key in both updates and deletes is an
    upsert (the update wins)."""

    def __init__(self, spark: SparkSession, path: str, key: str,
                 n_buckets: int = 32, checkpoint_every: int = 0):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        # > 0: after winning a commit whose version is a multiple of
        # this, write a log checkpoint (Delta writes one every 10) —
        # snapshot replay and txn-mark lookups then stay O(commits
        # since checkpoint) on long-running streams instead of O(all
        # history).  Commit records are KEPT (time travel intact);
        # expire_log() remains an explicit maintenance call.
        self.checkpoint_every = checkpoint_every

    # ------------------------------------------------------ creation
    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               key: str, n_buckets: int = 32) -> "TxnTable":
        """Initialize version 1 with df's rows.  Fails if a log
        already exists (use merge_into to change an existing table)."""
        t = cls(spark, path, key, n_buckets)
        os.makedirs(_log_dir(path), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)
        if t.version() > 0:
            raise FileExistsError(f"{path} already has a commit log")
        add = t._stage(df)
        # The version() pre-check has a race window (two creators can
        # both see an empty log); the v1 claim is the real arbiter.
        if not t._claim(1, {"op": "create", "add": add, "remove": [],
                            "schema": df.schema.json()}):
            t._discard(add)
            raise FileExistsError(
                f"{path}: another writer created the table first")
        return t

    # ------------------------------------------------------ snapshot
    def version(self) -> int:
        """Latest committed version (0 = empty log).  Checkpoints
        count: after expire_log() removes every record at or below a
        checkpoint, the checkpoint itself still witnesses that
        version."""
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            return 0
        vs = [int(n[1:11]) for n in names
              if n.startswith("v") and n.endswith(".json")]
        return max(vs + _ckpt_versions(names), default=0)

    def _checkpoints(self) -> list[int]:
        """Versions of the log's checkpoints, ascending."""
        try:
            return _ckpt_versions(os.listdir(_log_dir(self.path)))
        except FileNotFoundError:
            return []

    def _commit_record(self, v: int) -> dict:
        try:
            with open(_version_file(self.path, v)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise KeyError(
                f"{self.path}: no commit record v{v} — expired by "
                f"expire_log()? Time travel below the oldest "
                f"checkpoint is gone (same trade as Delta log "
                f"retention)") from None

    def checkpoint(self) -> int:
        """Compact the log: persist the CURRENT replay as
        _log/ckpt-v{N}.json (atomic tmp+rename publish), so snapshots
        replay O(commits since checkpoint) records instead of the
        whole history — Delta's _last_checkpoint shape.  Pure derived
        data: commits never read it for their claims, so it is safe
        to write concurrently with writers; commit records are kept,
        so pre-checkpoint time travel still replays.  Returns the
        checkpointed version."""
        snap = self._replay()
        self._write_checkpoint(snap)
        return snap.version

    def _write_checkpoint(self, snap: _Replay) -> None:
        # txn marks and the table schema ride every checkpoint:
        # expire_log() deletes the records below it, and without the
        # carried marks a replayed streaming batch would pass the
        # exactly-once gate (double-count) — Delta checkpoints carry
        # txn actions for exactly this reason.  added_at / runs /
        # delta_runs carry the latest-wins file order and the merge
        # discipline of run histories the same way.
        path = _ckpt_file(self.path, snap.version)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"version": snap.version, "active": snap.active,
                       "added_at": snap.added_at,
                       "runs": sorted(snap.runs),
                       "delta_runs": sorted(snap.delta),
                       "txns": snap.txns, "schema": snap.schema}, fh)
        os.replace(tmp, path)

    def _replay(self, upto: int | None = None) -> _Replay:
        """Table state at version ``upto`` (default: the head) — the
        ONE log replay: the newest checkpoint at or below it, then the
        commit records above.  A legacy checkpoint (written before txn
        marks were carried) is replayed THROUGH from an older base
        while the records it summarizes survive, which recovers its
        marks; once they are expired the replay starts from it with
        ``carried_marks=False`` (expire_log then refuses).  Raises
        KeyError for versions below the expired log."""
        head = self.version() if upto is None else upto
        legacy = None
        for c in [c for c in reversed(self._checkpoints())
                  if c <= head] + [0]:
            ck = {}
            if c:
                with open(_ckpt_file(self.path, c)) as fh:
                    ck = json.load(fh)
                if "txns" not in ck:
                    legacy = legacy or ck
                    continue
            try:
                return self._replay_from(ck, head, True)
            except KeyError:
                if legacy is None:
                    raise
                break
        return self._replay_from(legacy, head, False)

    def _replay_from(self, ck: dict, head: int,
                     carried_marks: bool) -> _Replay:
        v0 = int(ck.get("version", 0))
        active = dict(ck.get("active", {}))
        # A checkpoint without added_at predates append runs: its
        # merge-only files own their keys alone, so their order is
        # irrelevant and they rank at the checkpoint version.
        ranks = ck.get("added_at", {})
        added_at = {f: int(ranks.get(f, v0)) for f in active}
        runs = {f for f in ck.get("runs", []) if f in active}
        delta = {f for f in ck.get("delta_runs", []) if f in active}
        txns = dict(ck.get("txns", {}))
        schema = ck.get("schema")
        for v in range(v0 + 1, head + 1):
            rec = self._commit_record(v)
            for f in rec["remove"]:
                active.pop(f, None)
                added_at.pop(f, None)
                runs.discard(f)
                delta.discard(f)
            op = rec.get("op")
            # A stepped fold of adjacent run generations ranks its
            # files at the newest folded version (record["asof"]), not
            # at its own commit version — ranking at v would hoist
            # pre-fold rows above an interleaved merge commit and
            # resurrect shadowed keys.
            rank = int(rec["asof"]) if op == "fold-runs" else v
            for f, b in rec["add"].items():
                active[f] = b
                added_at[f] = rank
                if op in _RUN_OPS:
                    runs.add(f)
                    if op == "append-delta" or rec.get("delta"):
                        delta.add(f)
            t = rec.get("txn")
            if t:
                txns[t["app"]] = max(txns.get(t["app"], -1),
                                     int(t["batch_id"]))
            schema = schema or rec.get("schema")
        return _Replay(head, active, added_at, runs, delta, txns,
                       schema, carried_marks)

    # -------------------------------------------------------- reads
    def point_read(self, value) -> DataFrame:
        """Bucket-pruned keyed read: route ``value`` to its Murmur3
        bucket in PYTHON (the same Spark-hash replication
        serving.point_lookup_fast uses, test-enforced against SQL
        hash()) and read ONLY that bucket's live files — 1/n_buckets
        of the table, never a scan.  Over a run history the
        latest-wins window then runs on the pre-filtered key rows of
        ONE bucket (the key filter pushes into every generation's
        parquet scan before the union), so a point read over a
        3-run table stays O(bucket files); an empty bucket plans no
        file at all.  Integral keys only — exactly serving's
        constraint, same reason (the hash replication covers
        LongType)."""
        from data_ingestion_challenge_spark.serving import (
            _murmur3_long,
        )

        if not isinstance(value, int):
            raise TypeError(
                f"point_read routes via the Murmur3-long replication "
                f"and needs an integral key, got {type(value).__name__}"
                f" — use read().where(...) for non-integral keys")
        b = _murmur3_long(value) % self.n_buckets
        snap = self._replay()
        return self._read(snap, {f: snap.added_at[f]
                                 for f, fb in snap.active.items()
                                 if fb == b},
                          pre_filter=col(self.key) == F.lit(value))

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read; pass version for time travel.  Over a
        history containing append-run commits the read applies
        LATEST-WINS per key (newest commit's row for a key shadows
        older ones — the LSM read merge); over append-DELTA commits
        it applies the per-key SUM merge; a merge-only history reads
        the active files verbatim (see _read)."""
        snap = self._replay(version)
        return self._read(snap, {f: snap.added_at[f]
                                 for f in snap.active})

    def _read(self, snap: _Replay, files: dict[str, int],
              pre_filter=None) -> DataFrame:
        """The ONE merged read: the rows of ``files`` ({relative path:
        the version its rows rank at}) in snapshot ``snap``, scanned
        with the schema the log records (no inference job; only a
        vintage table that never recorded one infers from footers).
        ``pre_filter`` (a predicate on the key) applies to every scan
        BEFORE any merge, so it pushes into each parquet scan and the
        per-key winner/sum is unchanged.

        - no run file among ``files``: a plain scan, no window;
        - delta runs (append_delta; a table is one discipline at a
          time, so a run set is all-delta or all-latest-wins): one
          union grouped per key, every non-key column summed back to
          its table dtype (F.sum widens int→bigint);
        - latest-wins runs: one scan per rank group tagged with its
          rank, row_number over (key ORDER BY _v desc, _f desc).  A
          key appears at most once per rank (append_run enforces
          per-batch key uniqueness, merge keeps one row per key); the
          file path ``_f`` breaks ties stably should a caller's
          _source_unique=True promise be broken.  Group count = live
          run generations, bounded by the compaction ladder
          (docs/TXN_RUNS_DESIGN.md)."""
        if not files:
            df = self._empty_frame(snap)
            return df if pre_filter is None else df.where(pre_filter)
        reader = self.spark.read
        if snap.schema:
            reader = reader.schema(_struct(snap.schema))

        def scan(fs) -> DataFrame:
            df = reader.parquet(*[os.path.join(self.path, f)
                                  for f in fs])
            return df if pre_filter is None else df.where(pre_filter)

        if not snap.runs & files.keys():
            return scan(files)
        if snap.delta:
            df = scan(files)
            return df.groupBy(self.key).agg(
                *[F.sum(c).cast(df.schema[c].dataType).alias(c)
                  for c in df.columns if c != self.key])
        by_rank: dict[int, list[str]] = {}
        for f, v in files.items():
            by_rank.setdefault(v, []).append(f)
        df = functools.reduce(DataFrame.unionByName, [
            scan(fs).select("*", F.lit(v).alias("_v"),
                            col("_metadata.file_path").alias("_f"))
            for v, fs in sorted(by_rank.items())])
        w = Window.partitionBy(self.key).orderBy(
            col("_v").desc(), col("_f").desc())
        return (df.select("*", F.row_number().over(w).alias("_rn"))
                .where(col("_rn") == 1).drop("_rn", "_v", "_f"))

    def _empty_frame(self, snap: _Replay) -> DataFrame:
        """Zero-row frame with the table schema, touching NO data
        files: from the recorded schema (create() stores it;
        checkpoints carry it), falling back to probing any referenced
        file for tables created before the schema was recorded."""
        if snap.schema:
            return self.spark.createDataFrame([], _struct(snap.schema))
        for v in range(1, self.version() + 1):
            try:
                rec = self._commit_record(v)
            except KeyError:
                continue  # expired by expire_log()
            for f in rec["add"]:
                probe = os.path.join(self.path, f)
                if os.path.exists(probe):
                    schema = self.spark.read.parquet(probe).schema
                    return self.spark.createDataFrame([], schema)
        raise ValueError(
            f"{self.path}: empty table with no data file to "
            f"infer a schema from")

    # ------------------------------------------------------- commits
    def _stage(self, df: DataFrame) -> dict[str, int]:
        """Write df's rows as immutable per-bucket uuid files under
        data/; returns {relative path: bucket}.  Invisible until a
        commit references them.  The one staging point of every
        commit, so the one schema check: a frame whose names or types
        differ from the recorded table schema is refused before any
        file is written (create() and vintage tables have none to
        check against)."""
        schema = self._replay().schema
        if schema is not None:
            _check_schema(df, schema)
        staging = tempfile.mkdtemp(prefix="txn_stage_")
        try:
            (df.withColumn(_BUCKET, F.pmod(F.hash(col(self.key)),
                                           F.lit(self.n_buckets)))
             .repartition(_BUCKET)
             .write.mode("overwrite").partitionBy(_BUCKET)
             .parquet(staging))
            add: dict[str, int] = {}
            for entry in os.listdir(staging):
                if not entry.startswith(f"{_BUCKET}="):
                    continue
                b = int(entry.split("=", 1)[1])
                for part in os.listdir(os.path.join(staging, entry)):
                    if not part.endswith(".parquet"):
                        continue
                    rel = os.path.join(
                        _DATA, f"{uuid.uuid4().hex}-b{b}.parquet")
                    shutil.move(os.path.join(staging, entry, part),
                                os.path.join(self.path, rel))
                    add[rel] = b
            return add
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _claim(self, v: int, record: dict) -> bool:
        """Atomically claim version v; False if another writer won.
        A claim at or below the newest checkpoint is refused even
        though its record file may have been expired — succeeding
        there would commit into the range snapshots never replay
        (a lagging writer retries from the fresh head instead)."""
        ckpts = self._checkpoints()
        if ckpts and v <= ckpts[-1]:
            return False
        record = {"version": v, **record}
        # Publish ATOMICALLY WITH CONTENT: write the full record to a
        # tmp file first, then hard-link it to the version name — the
        # link either materializes the complete record or fails with
        # EEXIST.  The previous O_EXCL-then-write form had a torn
        # window: the version was visible (claimed) before its body
        # existed, so a concurrent reader could json-load an empty
        # file, and a writer crash mid-write bricked the table.
        target = _version_file(self.path, v)
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        try:
            try:
                os.link(tmp, target)
                won = True
            except FileExistsError:
                # NFS link retransmit idiom: the server may have
                # applied OUR link and lost the reply — EEXIST then
                # lies.  The tmp's link count is the ground truth
                # (2 = our link landed); without this check a writer
                # would treat its own landed commit as a lost claim
                # and re-apply the change (double-count).
                won = os.stat(tmp).st_nlink == 2
            except OSError:
                # Filesystem without hard links: fall back to
                # O_CREAT|O_EXCL.  This re-opens the torn-record
                # window on such filesystems — documented trade; the
                # primary deployment targets (local disk, NFS, HDFS
                # via mounts) all support link.
                try:
                    fd = os.open(target,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    return False
                with os.fdopen(fd, "w") as fh:
                    json.dump(record, fh)
                return True
            return won
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _commit(self, v: int, record: dict) -> bool:
        """_claim plus the post-claim checkpoint cadence
        (checkpoint_every) — maintenance must never fail a commit."""
        if not self._claim(v, record):
            return False
        if self.checkpoint_every and v % self.checkpoint_every == 0:
            try:
                self.checkpoint()
            except Exception:
                pass
        return True

    def _discard(self, add: dict[str, int]) -> None:
        for f in add:
            try:
                os.remove(os.path.join(self.path, f))
            except OSError:
                pass

    # --------------------------------------------------- streaming
    def last_txn(self, app: str) -> int:
        """Highest batch_id committed under `app` (-1 if none) — the
        Delta txn-metadata idempotence pattern: a streaming writer
        tags each commit with (app, batch_id); a replayed micro-batch
        whose id is already in the log is skipped WHOLE, which is
        sound because the commit (unlike a multi-partition file
        overwrite) is atomic.  Survives expire_log(): checkpoints
        carry the marks forward."""
        return self._replay().txns.get(app, -1)

    def txn_marks(self) -> dict[str, int]:
        """All streaming idempotence marks at the current version:
        {app: highest committed batch_id}.  One log read — callers
        that must classify MANY (app, batch_id) pairs (e.g. the
        admission store's committed-tag fold) use this instead of a
        last_txn() call per pair."""
        return self._replay().txns

    def accumulate_batch(self, batch_agg: DataFrame, batch_id: int,
                         sum_cols: list[str],
                         app: str = "stream",
                         max_retries: int = 5,
                         commit_mode: str = "merge") -> int | None:
        """One micro-batch of keyed SUM-accumulation (t.col += s.col
        per key), exactly-once under crash-replay via the (app,
        batch_id) txn tag.  Returns the committed version, or None
        for a skipped replay.

        ``commit_mode="merge"`` (default) is read-modify-write:
        O(touched buckets) per batch — at steady state every batch
        touches every bucket, i.e. O(table) write I/O per commit.
        ``"delta"`` routes through append_delta: the increments land
        as a sum-merge run, O(batch) unconditionally, with reads
        folding per key (the aggregate-merge LSM — fold the runs
        with compact_runs on a cadence).  Both modes produce
        IDENTICAL tables (integral sums commute; equivalence-
        tested)."""
        if commit_mode not in ("merge", "delta"):
            raise ValueError(
                f"commit_mode must be merge|delta, got {commit_mode!r}")
        if batch_id <= self.last_txn(app):
            return None
        if commit_mode == "delta":
            want = {self.key, *sum_cols}
            if set(batch_agg.columns) != want:
                raise ValueError(
                    f"accumulate_batch(delta): batch columns "
                    f"{sorted(batch_agg.columns)} != key+sum_cols "
                    f"{sorted(want)}")
            return self.append_delta(
                batch_agg, _txn={"app": app, "batch_id": batch_id},
                max_retries=max(max_retries, 50))
        # Pin the micro-batch frame: foreachBatch frames are only
        # valid within the batch, and the optimistic retry may need
        # to re-derive the sums more than once.
        inc = batch_agg.localCheckpoint()
        bcol = F.pmod(F.hash(col(self.key)), F.lit(self.n_buckets))
        touched = {r[0] for r in
                   inc.select(bcol.alias("b")).distinct().collect()}
        if not touched:
            return None

        base: dict = {}

        def _derive() -> DataFrame:
            # Sums are a function of the snapshot they read — derived
            # fresh here, re-derived via _rebuild on conflict, and the
            # SAME snapshot is handed to merge_into as the conflict
            # base (via _base): a commit landing between this read and
            # the claim is then always detected as an interleave,
            # never silently overwritten (lost-update window).  The
            # run-aware snapshot + bucket read make this correct over
            # live append-run files too (latest-wins per key).
            # localCheckpoint (r18, guide §5): merge_into drives ≥2
            # actions over this frame (its touched-bucket collect and
            # the stage write) — lazy, each one re-ran the full
            # bucket read + sum fold; pinned, the fold runs once and
            # the frame is bounded by the touched buckets' rows, the
            # same data the stage write materializes anyway.
            # Sums cast back to the increments' dtypes (F.sum widens
            # int→bigint), so the staged frame's types never depend on
            # whether the touched buckets held rows.
            snap = self._replay()
            base["snap"] = snap
            sel = {f: snap.added_at[f]
                   for f, b in snap.active.items() if b in touched}
            out = inc if not sel else (
                self._read(snap, sel).select(*inc.columns)
                .unionByName(inc).groupBy(self.key)
                .agg(*[F.sum(c).cast(inc.schema[c].dataType).alias(c)
                       for c in sum_cols]))
            return out.localCheckpoint()

        # r18 (guide §1.2 per-task work): the derived frame is
        # structurally one-row-per-key (it ends in groupBy(key)) and
        # ALREADY folds the touched buckets' current rows — so the
        # merge can skip its duplicate-source check job AND its own
        # current-read + anti-join (_covers_touched): staging the
        # derived frame alone IS the merged bucket content.  Before
        # this, one merge commit executed the bucket read + sum fold
        # up to 4× (dup check, touched collect, current read, stage).
        return self.merge_into(_derive(),
                               max_retries=max_retries,
                               _txn={"app": app, "batch_id": batch_id},
                               _rebuild=_derive,
                               _base=lambda: base["snap"],
                               _source_unique=True,
                               _covers_touched=True)

    # --------------------------------------------------- append runs
    def append_run(self, updates: DataFrame, *,
                   _txn: dict | None = None,
                   _source_unique: bool = False,
                   _pre_claim=None,
                   max_retries: int = 50) -> int:
        """O(batch) commit: stage `updates` as new per-bucket files
        and claim them as an ``append-run`` — prior files stay live;
        reads apply latest-wins per key (read()).  The write NEVER
        reads existing table state, so its cost is independent of the
        corpus size — the LSM commit mode designed for the admission
        sink's per-batch commit (docs/TXN_RUNS_DESIGN.md; the sink
        switch-over and run compaction land in r10).

        At most one update row per key per call (same SQL MERGE
        contract as merge_into; `_source_unique=True` skips the
        check for structurally unique sources).  A same-key row in a
        LATER append (or in the base) is shadowed, which is exactly
        how an upsert lands in this mode.  Lost claims simply
        re-claim the next version — append content never conflicts
        with interleaved commits, so there is nothing to recompute
        (hence the higher default retry budget).  `_txn` rides the
        record for streaming idempotence exactly as in merge_into.
        `updates` must carry the table schema, type-identical.
        Returns the committed version (unchanged if `updates` is
        empty)."""
        if not _source_unique:
            dup = (updates.groupBy(self.key).count()
                   .where(col("count") > 1).take(1))
            if dup:
                raise ValueError(
                    f"append_run: updates has >1 row for key "
                    f"{dup[0][0]!r}; latest-wins needs at most one "
                    f"source row per key per commit")
        return self._append(updates, "append-run", _txn, _pre_claim,
                            max_retries)

    def append_delta(self, increments: DataFrame, *,
                     _txn: dict | None = None,
                     _pre_claim=None,
                     max_retries: int = 50) -> int:
        """O(batch) commit of keyed SUM INCREMENTS — the
        aggregate-merge LSM mode: `increments` (the table schema,
        type-identical: key + numeric sum columns) land as a new run
        whose rows ADD to a key's totals at read time, so a streaming
        sum-accumulator's commit never reads table state — the delta
        twin of append_run's latest-wins
        (accumulate_batch(commit_mode="delta") routes here).
        Duplicate keys within one batch are legal (sums commute);
        lost claims re-claim with no recompute; `_txn`/`_pre_claim`
        behave exactly as in append_run.  Refuses typed over live
        latest-wins runs (a table is one merge discipline at a
        time).  Returns the committed version (unchanged when
        `increments` is empty)."""
        return self._append(increments, "append-delta", _txn,
                            _pre_claim, max_retries)

    def _append(self, frame: DataFrame, op: str, txn: dict | None,
                pre_claim, max_retries: int) -> int:
        """The one body of append_run/append_delta: stage, run the
        write barrier (``pre_claim``: once, between staging and the
        first claim, even when nothing staged — the caller's
        maintenance writes are not optional just because the batch
        admitted nothing; staged files are discarded if it raises),
        then claim.  The entry discipline check is check-then-act on
        its own: two writers of OPPOSITE modes can both see an empty
        run set and both commit, leaving a mixed table that read()
        then silently mis-merges.  Closed in the claim loop: before
        claiming on top of head H, the discipline must have been
        validated at H — a winning claim at H+1 then proves no
        opposite-mode run landed at or below H (any commit between
        the validation and our claim makes the claim LOSE, and the
        retry revalidates)."""
        want_delta = op == "append-delta"
        snap = self._check_discipline(want_delta)
        staged = self._stage(frame)
        if not staged:
            if pre_claim is not None:
                pre_claim()
            return self.version()
        record = {"op": op, "add": staged, "remove": []}
        if txn is not None:
            record["txn"] = txn
        if pre_claim is not None:
            try:
                pre_claim()
            except BaseException:
                self._discard(staged)
                raise
        validated_head = snap.version
        for _ in range(max_retries):
            head = self.version()
            if head != validated_head:
                try:
                    head = self._check_discipline(want_delta).version
                except NotImplementedError:
                    self._discard(staged)
                    raise
                validated_head = head
            if self._commit(head + 1, record):
                return head + 1
        self._discard(staged)
        raise CommitConflictError(
            f"{op.replace('-', '_')} lost {max_retries} claims on "
            f"{self.path}")

    def _check_discipline(self, want_delta: bool) -> _Replay:
        """Refuse typed when the live run set's merge discipline
        (latest-wins vs sum-merge) conflicts with the appender's —
        a table is ONE discipline at a time, or reads would silently
        mis-merge (sum latest-wins rows / latest-wins delta rows).
        Returns the replay the check validated, so the claim loop
        can re-check only when the head moves."""
        snap = self._replay()
        if want_delta:
            if snap.runs and not snap.delta:
                raise NotImplementedError(
                    f"{self.path}: append_delta over live latest-wins"
                    f" runs — a table is latest-wins or sum-merge, "
                    f"never both; compact_runs() first")
        elif snap.delta:
            raise NotImplementedError(
                f"{self.path}: append_run over live DELTA runs — a "
                f"table is latest-wins or sum-merge, never both; "
                f"compact_runs() first")
        return snap

    def compact_runs(self, max_retries: int = 5, level: str = "full",
                     ratio: float = 0.5) -> int | None:
        """Fold live append-runs — the maintenance that bounds
        read()'s run-generation count (docs/TXN_RUNS_DESIGN.md).

        ``level="full"``: ONE latest-wins read of the whole snapshot,
        re-staged as fresh per-bucket files, committed as a plain
        merge record removing every prior live file — reads are
        windowless after.  O(corpus) per call: the major compaction,
        run on a coarse cadence.

        ``level="auto"``: the STEPPED ladder (the posting store's
        size-tiered scheme inside the txn log): adjacent run
        generations merge whenever the newer has reached ``ratio`` ×
        the older (sizes = parquet footer row counts, no counter
        state), each merge committed as an ``op: "fold-runs"`` record
        whose files rank at the NEWEST folded version (``asof``) —
        adjacency keeps every fold a contiguous version range, which
        is what makes asof-ranking order-safe against interleaved
        merge commits.  Generation count stays
        O(log_{1/ratio}(corpus/batch)) and amortized maintenance I/O
        per appended row O(ratio⁻¹ · log), vs O(corpus) per cadence
        tick for always-full.  When the total run mass itself reaches
        ``ratio`` × the base rows, the ladder escalates to one full
        fold (the LSM major compaction).

        Returns the last committed version, or None when nothing
        needed folding.  Optimistic: a commit landing mid-fold
        invalidates the folded state, so the fold re-reads and
        retries."""
        if level not in ("full", "auto"):
            raise ValueError(f"level must be full|auto, got {level!r}")
        if level == "full":
            return self._compact_runs_full(max_retries)
        return self._compact_runs_auto(max_retries, ratio)

    def _compact_runs_full(self, max_retries: int) -> int | None:
        for _ in range(max_retries):
            snap = self._replay()
            if not snap.runs:
                return None
            base_v = snap.version
            staged = self._stage(self.read(version=base_v))
            # "fold": full marks this merge record as CONTENT-
            # PRESERVING (a rewrite of the snapshot it read, no
            # upserts) — changes() uses it to keep CDC reads valid
            # across major compactions.
            record = {"op": "merge", "fold": "full", "add": staged,
                      "remove": sorted(snap.active)}
            if self.version() == base_v \
                    and self._claim(base_v + 1, record):
                return base_v + 1
            # Interleaved commit: the folded state is stale.
            self._discard(staged)
        raise CommitConflictError(
            f"compact_runs lost {max_retries} claims on {self.path}")

    def changes(self, since_version: int,
                until_version: int | None = None) -> DataFrame:
        """CDC read for the LSM ingest path: the NET row changes
        committed AFTER ``since_version`` (up to ``until_version``
        inclusive when given, else the current head) — for a
        latest-wins (run) history the newest row per key among
        in-range commits (net upserts), for a delta history the
        per-key SUM of in-range increments (net increments).  The
        incremental-consumer API: a downstream pipeline holding a
        high-water-mark version refreshes its derived state
        (signature/IVF indexes, serving rollups) from O(changes) rows
        instead of re-reading the corpus —
        `extend_signatures(t.changes(hwm), ...)` is the intended
        composition.  ``until_version`` makes a catch-up REPRODUCIBLE
        and bounded: a consumer far behind steps through the history
        window by window (each step a pinned version range, identical
        on retry) instead of one unbounded read racing new commits;
        a fold landing past ``until`` does not perturb the read
        unless it folded in-range files.

        Folds are handled precisely: a stepped fold whose inputs are
        all post-boundary substitutes its output (same net content);
        a fold that CROSSES the boundary mixes pre- and post-boundary
        rows in one file, so attribution is impossible and the call
        refuses typed (take a fresh snapshot and reset the
        high-water mark).  Content-CHANGING merge commits
        (merge_into upserts/deletes) have no row-level attribution
        in the log and always refuse; content-preserving full folds
        (marked ``fold: full`` since r11) refuse only when they
        crossed the boundary.  Reading below the oldest surviving
        record (expire_log) refuses with the same remedy."""
        head = self.version()
        until = head if until_version is None else int(until_version)
        if until > head:
            raise ValueError(
                f"{self.path}: changes(until={until}) is beyond the "
                f"log head v{head} — the requested window does not "
                f"exist yet")
        if since_version > until:
            # Always a consumer-state bug (wrong table path, or a
            # table rebuilt at the same path with a reset version
            # counter): returning an empty frame would read as "no
            # changes" and the consumer would silently never refresh.
            where = (f"beyond the log head v{head}"
                     if until == head
                     else f"beyond the window end v{until}")
            raise ValueError(
                f"{self.path}: changes(since={since_version}) is "
                f"{where} — the high-water mark does not belong to "
                f"this table's history; re-baseline from a full "
                f"snapshot read")
        if since_version == until:
            return self._read(self._replay(), {})
        cur: dict[str, int] = {}  # rel path -> latest-wins rank
        for v in range(since_version + 1, until + 1):
            try:
                rec = self._commit_record(v)
            except KeyError:
                raise ValueError(
                    f"{self.path}: changes(since={since_version}) "
                    f"reaches below the oldest surviving commit "
                    f"record (expire_log) — re-baseline from a full "
                    f"snapshot read and reset the high-water mark"
                ) from None
            op = rec.get("op")
            if op in ("create", "append-run", "append-delta"):
                for f in rec["add"]:
                    cur[f] = v
            elif op == "fold-runs":
                removed = rec["remove"]
                inside = [r for r in removed if r in cur]
                if inside and len(inside) != len(removed):
                    raise ValueError(
                        f"{self.path}: a fold at v{v} crossed the "
                        f"changes(since={since_version}) boundary "
                        f"(folded pre- and post-boundary rows into "
                        f"one file) — re-baseline from a full "
                        f"snapshot read and reset the high-water "
                        f"mark")
                if inside:
                    for r in removed:
                        cur.pop(r, None)
                    for f in rec["add"]:
                        cur[f] = int(rec["asof"])
                # else: a fold of wholly pre-boundary content — its
                # outputs carry no post-boundary rows; ignore.
            elif op == "merge":
                if rec.get("fold") != "full":
                    raise ValueError(
                        f"{self.path}: merge commit at v{v} — MERGE "
                        f"upserts/deletes carry no row-level change "
                        f"attribution in the log; changes() serves "
                        f"the append-run/append-delta ingest path. "
                        f"Diff two snapshot reads instead")
                if any(r in cur for r in rec["remove"]):
                    raise ValueError(
                        f"{self.path}: a full fold at v{v} crossed "
                        f"the changes(since={since_version}) "
                        f"boundary — re-baseline from a full "
                        f"snapshot read and reset the high-water "
                        f"mark")
                # content-preserving rewrite of pre-boundary state.
        # Reading TO HEAD, everything in `cur` is live or was folded
        # into a live substitute above (vacuum only deletes
        # unreferenced files).  A BOUNDED window (until < head) can
        # race a LATER fold + vacuum that consumed in-range files —
        # detect the gap typed instead of failing mid-scan.
        if until < head:
            missing = [f for f in cur
                       if not os.path.exists(
                           os.path.join(self.path, f))]
            if missing:
                raise ValueError(
                    f"{self.path}: changes(since={since_version}, "
                    f"until={until}) window was consumed by a later "
                    f"fold + vacuum ({len(missing)} files gone) — "
                    f"read to head or re-baseline from a snapshot")
        # The replay at `until` supplies the schema and the merge
        # discipline (its live runs are the in-range files or their
        # fold substitutes).
        return self._read(self._replay(until), cur)

    def history(self) -> list[dict]:
        """Commit history, newest first — the DESCRIBE HISTORY
        analog: one dict per surviving commit record with
        ``version``, ``op`` (create / merge / append-run /
        fold-runs), ``n_add`` / ``n_remove`` file counts, the
        streaming ``txn`` tag if any, and ``asof`` for stepped
        folds.  Records expired by expire_log() are summarized by
        one ``checkpoint`` entry at the newest checkpoint's version
        (time travel below it is gone — the Delta log-retention
        trade, surfaced rather than hidden)."""
        head = self.version()
        out: list[dict] = []
        oldest = 1
        for v in range(head, 0, -1):
            try:
                rec = self._commit_record(v)
            except KeyError:
                oldest = v + 1
                break
            entry = {"version": v, "op": rec.get("op", "merge"),
                     "n_add": len(rec.get("add", {})),
                     "n_remove": len(rec.get("remove", []))}
            if rec.get("txn"):
                entry["txn"] = rec["txn"]
            if "asof" in rec:
                entry["asof"] = int(rec["asof"])
            out.append(entry)
        ckpts = self._checkpoints()
        if oldest > 1 and ckpts:
            snap = self._replay(ckpts[-1])
            out.append({"version": snap.version, "op": "checkpoint",
                        "n_add": len(snap.active), "n_remove": 0})
        return out

    def table_stats(self) -> dict:
        """Ops audit of the table's physical state (footer reads
        only, no Spark job): current version, live file count, base
        vs run row counts, and the run GENERATION ladder (one entry
        per latest-wins ranking version with its file and row
        counts) — what a maintenance cadence inspects to decide
        whether compact_runs is due, and the corpus-table mirror of
        Engine.posting_store_stats' run report."""
        snap = self._replay()
        base_files = [f for f in snap.active if f not in snap.runs]
        gens: dict[int, list[str]] = {}
        for f in snap.runs:
            gens.setdefault(snap.added_at[f], []).append(f)
        return {
            "version": snap.version,
            "n_files": len(snap.active),
            "base_files": len(base_files),
            "base_rows": self._files_rows(base_files),
            "run_rows": self._files_rows(snap.runs),
            "generations": [
                {"asof": v, "files": len(fs),
                 "rows": self._files_rows(fs)}
                for v, fs in sorted(gens.items())],
        }

    def run_generations(self) -> int:
        """Number of live run GENERATIONS (distinct latest-wins
        ranking versions among append-run files) — the read window's
        union width and the signal a maintenance cadence checks
        before paying for a fold.  Log replay only; no Spark job."""
        snap = self._replay()
        return len({snap.added_at[f] for f in snap.runs})

    def _files_rows(self, files) -> int:
        """Total parquet rows across relative paths, from footers —
        metadata-only (no data I/O).  Unreadable footers under-count
        (the ladder degrades gracefully rather than wedging)."""
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            try:
                total += pq.read_metadata(
                    os.path.join(self.path, f)).num_rows
            except (OSError, ValueError):
                pass
        return total

    def _compact_runs_auto(self, max_retries: int,
                           ratio: float) -> int | None:
        for _ in range(max_retries):
            snap = self._replay()
            if not snap.runs:
                return None
            gens: dict[int, list[str]] = {}
            for f in snap.runs:
                gens.setdefault(snap.added_at[f], []).append(f)
            # (asof, rows, files, #generations) ascending by asof;
            # collapse adjacent (older, newer) pairs until the full
            # invariant holds — every newer group < ratio × its older
            # neighbor (checking only one pair would let a violating
            # middle pair accrete forever).
            groups = [[v, self._files_rows(fs), sorted(fs), 1]
                      for v, fs in sorted(gens.items())]
            changed = True
            while changed and len(groups) >= 2:
                changed = False
                for i in range(len(groups) - 1):
                    older, newer = groups[i], groups[i + 1]
                    if newer[1] >= ratio * older[1]:
                        groups[i:i + 2] = [[newer[0],
                                            older[1] + newer[1],
                                            older[2] + newer[2],
                                            older[3] + newer[3]]]
                        changed = True
                        break
            # Major-compaction escalation: run mass at ratio × base.
            base_files = [f for f in snap.active if f not in snap.runs]
            if base_files:
                if sum(g[1] for g in groups) \
                        >= ratio * self._files_rows(base_files):
                    return self._compact_runs_full(max_retries)
            elif len(groups) == 1:
                # Base-LESS history (e.g. the admission corpus table:
                # created empty, only ever appended) whose ladder has
                # collapsed to one generation: no pairwise fold is
                # left to schedule, and without this fall-through
                # every read pays the merge window forever.  One full
                # fold materializes a windowless base; the collapse
                # that got here already paid O(corpus), so this at
                # most doubles an already-amortized cost — and once a
                # base exists the normal ratio escalation governs.
                return self._compact_runs_full(max_retries)
            plan = [g for g in groups if g[3] >= 2]
            if not plan:
                return None
            # Execute newest target first: a crash/conflict part-way
            # leaves the small-run end — the part the next tick
            # re-merges cheapest — unfolded.
            committed = None
            head = snap.version
            conflicted = False
            for asof, _rows, files, _n in sorted(plan, reverse=True):
                staged = self._stage(self._read(
                    snap, {f: snap.added_at[f] for f in files}))
                record = {"op": "fold-runs", "add": staged,
                          "remove": sorted(files), "asof": asof}
                if snap.delta:
                    # Delta folds SUM (commutative — the fold of
                    # deltas is still a delta); the record carries
                    # the kind so reads keep sum-merging it.
                    record["delta"] = True
                if self.version() == head \
                        and self._claim(head + 1, record):
                    head += 1
                    committed = head
                else:
                    # Interleaved commit: replan from the fresh
                    # snapshot (already-committed folds stand — each
                    # is individually atomic and leaves a legal set).
                    self._discard(staged)
                    conflicted = True
                    break
            if not conflicted:
                return committed
        raise CommitConflictError(
            f"compact_runs lost {max_retries} claims on {self.path}")

    # --------------------------------------------------------- MERGE
    def merge_into(self, updates: DataFrame, *,
                   deletes: DataFrame | None = None,
                   max_retries: int = 5,
                   _txn: dict | None = None,
                   _rebuild=None,
                   _base=None,
                   _source_unique: bool = False,
                   _pre_claim=None,
                   _covers_touched: bool = False) -> int:
        """Optimistic MERGE: upsert `updates` (full-row schema), drop
        `deletes` (one-column keys).  Returns the committed version.
        Concurrent writers serialize through the log: a lost claim
        over DISJOINT buckets re-claims without recompute; an
        OVERLAPPING one redoes the merge from the fresh snapshot.
        `_txn` rides the commit record (streaming idempotence tag);
        `_rebuild`, when given, is called on conflict to re-derive
        the update set against the new snapshot (accumulate_batch
        passes it — its summed rows are a function of the snapshot
        they were read from, so a conflicting commit staleness them);
        `_base`, when given, is a zero-arg callable returning the
        replay record (_replay) the CURRENT `updates` were derived
        from — the claim then uses that as its conflict base instead
        of taking a fresh snapshot, closing the lost-update window
        where a commit lands between the derivation read and the
        merge's own snapshot (accumulate_batch passes it);
        `_source_unique=True` skips the one-row-per-key source check
        for callers that structurally guarantee it (e.g. the
        admission sink, whose updates flow out of a keep-first-per-key
        window) — one fewer Spark job on a latency-sensitive commit
        path; `_pre_claim` runs ONCE between staging and the first
        claim — a write barrier: the admission sink passes a join of
        its concurrent maintenance-write futures so the merge's
        snapshot-read + staging overlaps those writes while the
        COMMIT still never precedes them (tests also use it to
        interleave a competing writer deterministically).  If the
        hook raises, the staged files are discarded before the error
        propagates — they must not leak as orphans; `_covers_touched=
        True` asserts that `updates` already CONTAINS every surviving
        row of every touched bucket (accumulate_batch passes it: its
        derived frame is current ∪ increments re-aggregated per key),
        so the merge stages `updates` as-is instead of reading the
        touched buckets again and anti-joining — with the frame-level
        union that read fed being provably empty (every current key
        appears in updates, so the anti-join dropped ALL of current).
        Only valid with deletes=None (enforced); conflict handling is
        unchanged — a rebuild re-derives against the fresh snapshot.

        `updates` must carry the table schema, type-identical: it is
        checked up front, so a drifted frame is refused whether or
        not its buckets hold rows to coerce it against.

        Correct over LIVE APPEND-RUN histories since r10: bucket reads
        are run-aware (latest-wins per key via _read), the
        commit removes every live file — base AND run — of the
        touched buckets, and every retry path re-derives the FULL
        run-aware snapshot, so a run committed mid-merge is either
        disjoint (harmless) or detected as a bucket conflict and
        folded into the rebuild — never unioned in as a resurrection
        of shadowed rows (the r9 check-then-act hazard)."""
        if _covers_touched and deletes is not None:
            raise ValueError(
                "merge_into: _covers_touched is incompatible with "
                "deletes — the staged-as-is frame would resurrect "
                "deleted keys")
        if _covers_touched and _rebuild is None:
            raise ValueError(
                "merge_into: _covers_touched requires _rebuild — on "
                "an overlapping conflict the ordinary path re-merges "
                "against the fresh snapshot, but a covers-touched "
                "frame is a function of the snapshot it was derived "
                "from and MUST be re-derived, or interleaved rows "
                "would be lost")
        snap = _base() if _base is not None else self._replay()
        if snap.schema is not None:
            _check_schema(updates, snap.schema)
        if not _source_unique:
            dup = (updates.groupBy(self.key).count()
                   .where(col("count") > 1).take(1))
            if dup:
                raise ValueError(
                    f"merge_into: updates has >1 row for key "
                    f"{dup[0][0]!r}; MERGE requires at most one "
                    f"source row per key")
        bcol = F.pmod(F.hash(col(self.key)), F.lit(self.n_buckets))
        changed = updates.select(bcol.alias("b"))
        drop_keys = updates.select(self.key)
        if deletes is not None:
            changed = changed.unionByName(
                deletes.select(bcol.alias("b")))
            drop_keys = drop_keys.unionByName(deletes.select(self.key))
        # Bounded collects: ≤ n_buckets ids / batch-sized key list.
        touched = {r[0] for r in changed.distinct().collect()}
        if not touched:
            return self.version()

        staged: dict[str, int] | None = None
        for _ in range(max_retries):
            if staged is None:
                if _covers_touched:
                    # updates already IS the touched buckets' merged
                    # content (see docstring) — skip the second
                    # bucket read whose rows the anti-join would all
                    # drop anyway.
                    merged = updates
                else:
                    sel = {f: snap.added_at[f]
                           for f, b in snap.active.items()
                           if b in touched}
                    # No checkpoint needed: data files are immutable —
                    # the merge reads old files and stages NEW ones,
                    # never overwriting what it reads.
                    merged = updates if not sel else (
                        self._read(snap, sel)
                        .join(drop_keys.distinct(), self.key,
                              "left_anti")
                        .unionByName(updates))
                staged = self._stage(merged)
            if _pre_claim is not None:
                hook, _pre_claim = _pre_claim, None
                try:
                    hook()
                except BaseException:
                    self._discard(staged)
                    raise
            remove = [f for f, b in snap.active.items() if b in touched]
            next_v = snap.version + 1
            record = {"op": "merge", "add": staged, "remove": remove}
            if _txn is not None:
                record["txn"] = _txn
            if self._commit(next_v, record):
                return next_v
            # Lost the claim: fold in the interleaved commits.
            new = self._replay()
            interleaved_buckets: set[int] = set()
            expired_mid_scan = False
            for v in range(snap.version + 1, new.version + 1):
                try:
                    rec = self._commit_record(v)
                except KeyError:
                    # A concurrent checkpoint()+expire_log() removed
                    # this record mid-retry.  We can no longer prove
                    # the interleave was disjoint from our buckets, so
                    # treat it as an OVERLAPPING conflict: discard the
                    # staged files (they must not leak as orphans) and
                    # rebuild from the fresh snapshot — a retryable
                    # outcome, not a crash.
                    expired_mid_scan = True
                    break
                # append-run/fold-runs interleaves count exactly like
                # merges here: their added files' buckets intersect
                # ours → our staged union is stale (it would shadow
                # or resurrect their rows) → rebuild.
                interleaved_buckets |= set(rec["add"].values())
                interleaved_buckets |= {snap.active.get(f)
                                        for f in rec["remove"]
                                        if f in snap.active}
            snap = new
            if expired_mid_scan or (interleaved_buckets & touched):
                # Conflict: a competing writer rewrote a bucket we
                # read — our staged merge is stale.  Recompute.
                self._discard(staged)
                staged = None
                if _rebuild is not None:
                    updates = _rebuild()
                    drop_keys = updates.select(self.key)
                    if deletes is not None:
                        drop_keys = drop_keys.unionByName(
                            deletes.select(self.key))
                    if _base is not None:
                        # Conflict base = the snapshot the rebuild
                        # actually read, not the head we happened to
                        # observe before it ran.
                        snap = _base()
        if staged:
            # Exhausted retries with files still staged: clean up —
            # otherwise they linger as orphans until a vacuum.
            self._discard(staged)
        raise CommitConflictError(
            f"merge_into lost {max_retries} optimistic claims on "
            f"{self.path}")

    # --------------------------------------------------- log expiry
    def expire_log(self) -> int:
        """Delete commit records at or below the NEWEST checkpoint —
        the log-retention half of maintenance (vacuum is the data
        half): snapshots at or above the checkpoint replay from it
        and never touch the expired records; time travel below it
        raises a clear KeyError (Delta's log-retention trade).
        The checkpoint is first rewritten from the replay at its
        version: a LEGACY one (written before txn marks / schema were
        carried) thereby gains the marks the replay recovered from
        the still-present records — expiring below a mark-less
        checkpoint would silently discard every (app, batch_id)
        idempotence mark beneath it, letting a crash-replayed
        streaming batch pass the exactly-once gate (double-count).
        If those records are themselves already expired the marks
        are genuinely unrecoverable and expire_log refuses.  A
        marks-carrying checkpoint replays from itself alone, so
        routine expiry never rereads expired records.

        No-op without a checkpoint.  Returns count deleted."""
        ckpts = self._checkpoints()
        if not ckpts:
            return 0
        snap = self._replay(ckpts[-1])
        if not snap.carried_marks:
            raise ValueError(
                f"{self.path}: checkpoint v{snap.version} carries no "
                f"txn marks and a record needed to rebuild them is "
                f"already expired — refusing expire_log(); the marks "
                f"below this checkpoint are the only defense against "
                f"streaming double-counts")
        self._write_checkpoint(snap)
        n = 0
        for v in range(1, snap.version + 1):
            try:
                os.remove(_version_file(self.path, v))
                n += 1
            except FileNotFoundError:
                pass
        return n

    # ------------------------------------------------------- vacuum
    def vacuum(self, retain_versions: int = 0,
               retain_orphans_s: float = 600.0) -> int:
        """Delete data files not referenced by the current snapshot
        (crashed writers' orphans and files removed by later
        versions).  retain_versions > 0 additionally KEEPS every file
        some snapshot in the last N versions references, so time
        travel that far back survives the vacuum — the version-count
        analog of Delta's retention duration (older time travel stops
        working, same trade as Delta VACUUM).

        retain_orphans_s guards LIVE writers: a mid-merge writer's
        staged-but-unclaimed files are indistinguishable from crashed
        orphans, so anything younger than this many seconds is kept
        (Delta's deletedFileRetentionDuration plays the same role).
        Only set 0 when no writer can be in flight.  Returns count
        deleted."""
        import time as _time

        head = self.version()
        keep: set[str] = set()
        for v in range(max(1, head - retain_versions), head + 1):
            try:
                keep |= set(self._replay(v).active)
            except KeyError:
                pass  # below expired log — nothing to retain there
        data_dir = os.path.join(self.path, _DATA)
        n = 0
        cutoff = _time.time() - retain_orphans_s
        for entry in os.listdir(data_dir):
            full = os.path.join(data_dir, entry)
            if os.path.join(_DATA, entry) in keep:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # possibly a live writer's staged file
                os.remove(full)
                n += 1
            except OSError:
                pass
        return n


# ------------------------------------------------ streaming ingestion

def run_keyed_upsert(spark: SparkSession, events_path: str,
                     out_dir: str, checkpoint: str,
                     n_buckets: int = 32,
                     commit_mode: str = "delta") -> TxnTable:
    """The reference's queue→per-key-state loop on the streaming
    engine, landing in the TRANSACTIONAL table: each micro-batch
    sum-accumulates per-user (n_events, value_sum_micros) through
    accumulate_batch — one atomic commit per batch, tagged with
    (app, batch_id) so a crash-replayed batch is skipped whole —
    idempotence is a single log lookup, no per-bucket bookkeeping.

    ``commit_mode="delta"`` (default since r10) commits each batch's
    increments as an append-delta run — O(batch) write I/O, vs the
    read-modify-write merge whose steady state touches every bucket
    every batch; reads sum-fold per key, value-identical (integral
    micros commute under any batching).  Pass "merge" for the
    windowless-table-on-every-commit behavior."""
    from data_ingestion_challenge_spark.streaming.pipeline import (
        build_source)

    schema = ("user_id long, n_events long, value_sum_micros long")
    t = TxnTable.create(spark, out_dir,
                        spark.createDataFrame([], schema),
                        key="user_id", n_buckets=n_buckets)

    def _agg(df: DataFrame) -> DataFrame:
        return (df.groupBy("user_id")
                .agg(F.count("*").alias("n_events"),
                     F.sum(F.round(col("value") * 1000000)
                           .cast("bigint")).alias("value_sum_micros")))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        t.accumulate_batch(_agg(batch_df), batch_id,
                           sum_cols=["n_events", "value_sum_micros"],
                           app="keyed_upsert",
                           commit_mode=commit_mode)

    q = (build_source(spark, events_path)
         .writeStream
         .foreachBatch(_merge)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return t
