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

At 100 TB the log is O(commits) tiny JSON files (compactable into
checkpoints exactly like Delta's _last_checkpoint — not needed at
bench scale), data files are bucket-sized parquet, and a merge still
rewrites only touched buckets.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col

_BUCKET = "_bucket"
_LOG = "_log"
_DATA = "data"


class CommitConflictError(RuntimeError):
    """Raised when max_retries optimistic attempts all lost their
    version claim to competing writers."""


class _RunSet(set):
    """The live run-file set, carrying which files are DELTA runs
    (commutative per-key SUM semantics — append_delta) in ``delta``;
    the rest are latest-wins runs.  A plain set to every existing
    caller (the _base hook contract is unchanged)."""

    def __init__(self, *a):
        super().__init__(*a)
        self.delta: set[str] = set()


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _version_file(path: str, v: int) -> str:
    return os.path.join(_log_dir(path), f"v{v:010d}.json")


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
        vs += [int(n[6:16]) for n in names
               if n.startswith("ckpt-v") and n.endswith(".json")]
        return max(vs, default=0)

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
        """Compact the log: persist the CURRENT active file set as
        _log/ckpt-v{N}.json (atomic tmp+rename publish), so snapshots
        replay O(commits since checkpoint) records instead of the
        whole history — Delta's _last_checkpoint shape.  Pure derived
        data: commits never read it for their claims, so it is safe
        to write concurrently with writers; commit records are kept,
        so pre-checkpoint time travel still replays.  Returns the
        checkpointed version."""
        head, active, added_at, runs = self._snapshot_runs()
        path = os.path.join(_log_dir(self.path),
                            f"ckpt-v{head:010d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            # txn marks and the table schema ride every checkpoint:
            # expire_log() deletes the records below it, and without
            # the carried marks a replayed streaming batch would pass
            # the exactly-once gate (double-count) — Delta checkpoints
            # carry txn actions for exactly this reason.  added_at /
            # runs carry the latest-wins file order for append-run
            # histories the same way (expiry must not lose it).
            json.dump({"version": head, "active": active,
                       "added_at": added_at, "runs": sorted(runs),
                       "delta_runs": sorted(
                           getattr(runs, "delta", set())),
                       "txns": self._txn_marks(head),
                       "schema": self._table_schema(head)}, fh)
        os.replace(tmp, path)
        return head

    def _latest_checkpoint(self, upto: int):
        """(version, active, txns, schema_json, carried_marks) of the
        newest checkpoint ≤ upto, or None.  txns/schema default for
        checkpoints written before they were carried forward;
        carried_marks records whether the file ACTUALLY held a txns
        key — expire_log() must distinguish "no marks recorded"
        (legacy; expiring would lose them) from "marks recorded,
        happens to be empty"."""
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            return None
        vs = [int(n[6:16]) for n in names
              if n.startswith("ckpt-v") and n.endswith(".json")]
        vs = [v for v in vs if v <= upto]
        if not vs:
            return None
        best = max(vs)
        with open(os.path.join(_log_dir(self.path),
                               f"ckpt-v{best:010d}.json")) as fh:
            data = json.load(fh)
        return (best, dict(data["active"]),
                dict(data.get("txns", {})), data.get("schema"),
                "txns" in data)

    def _snapshot(self, version: int | None = None):
        """(version, {relative file path: bucket}): replay from the
        newest checkpoint at or before the requested version, then
        the remaining commit records."""
        head = self.version() if version is None else version
        ckpt = self._latest_checkpoint(head)
        start, active = (ckpt[0] + 1, ckpt[1]) if ckpt else (1, {})
        for v in range(start, head + 1):
            rec = self._commit_record(v)
            for f in rec["remove"]:
                active.pop(f, None)
            for f, b in rec["add"].items():
                active[f] = b
        return head, active

    def _snapshot_runs(self, version: int | None = None):
        """(head, active, added_at, run_files): the run-aware snapshot
        behind latest-wins reads — `added_at[f]` is the version of the
        commit that added live file f (the latest-wins order), and
        `run_files` the live files added by ``append-run`` commits.
        Checkpoints written since append-run landed carry both maps
        (`added_at` / `runs`); a legacy checkpoint implies a
        merge-only history below it (append-run did not exist), where
        per-key single-file ownership makes base-file order
        irrelevant — those files default to the checkpoint version."""
        head = self.version() if version is None else version
        ckpt = self._latest_checkpoint_raw(head)
        run_files = _RunSet()
        if ckpt:
            start = ckpt["version"] + 1
            active = dict(ckpt["active"])
            added_at = {f: int(v) for f, v in
                        ckpt.get("added_at", {}).items()}
            for f in active:
                added_at.setdefault(f, ckpt["version"])
            run_files.update(f for f in ckpt.get("runs", [])
                             if f in active)
            run_files.delta = {f for f in ckpt.get("delta_runs", [])
                               if f in active}
        else:
            start, active, added_at = 1, {}, {}
        for v in range(start, head + 1):
            rec = self._commit_record(v)
            for f in rec["remove"]:
                active.pop(f, None)
                added_at.pop(f, None)
                run_files.discard(f)
                run_files.delta.discard(f)
            op = rec.get("op")
            for f, b in rec["add"].items():
                active[f] = b
                if op == "fold-runs":
                    # A stepped fold of adjacent run generations: the
                    # folded files RANK at the newest folded version
                    # (record["asof"]), not at the fold's own commit
                    # version — ranking at v would hoist pre-merge
                    # rows above an interleaved merge commit and
                    # resurrect shadowed keys.  (For delta folds the
                    # rank is moot — sums commute — but the record
                    # keeps the same shape.)
                    added_at[f] = int(rec["asof"])
                    run_files.add(f)
                    if rec.get("delta"):
                        run_files.delta.add(f)
                else:
                    added_at[f] = v
                    if op in ("append-run", "append-delta"):
                        run_files.add(f)
                        if op == "append-delta":
                            run_files.delta.add(f)
        return head, active, added_at, run_files

    def _latest_checkpoint_raw(self, upto: int) -> dict | None:
        """The newest checkpoint file ≤ upto as its raw dict (None if
        none) — _latest_checkpoint's tuple shape predates the
        run-aware fields and stays for its existing callers."""
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            return None
        vs = [int(n[6:16]) for n in names
              if n.startswith("ckpt-v") and n.endswith(".json")]
        vs = [v for v in vs if v <= upto]
        if not vs:
            return None
        with open(os.path.join(_log_dir(self.path),
                               f"ckpt-v{max(vs):010d}.json")) as fh:
            return json.load(fh)

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
        3-run table stays O(bucket files).  Integral keys only —
        exactly serving's constraint, same reason (the hash
        replication covers LongType)."""
        from data_ingestion_challenge_spark.serving import (
            _murmur3_long,
        )

        if not isinstance(value, int):
            raise TypeError(
                f"point_read routes via the Murmur3-long replication "
                f"and needs an integral key, got {type(value).__name__}"
                f" — use read().where(...) for non-integral keys")
        b = _murmur3_long(value) % self.n_buckets
        _, active, added_at, run_files = self._snapshot_runs()
        sel = {f: added_at[f] for f in active if active[f] == b}
        pred = col(self.key) == F.lit(value)
        if not sel:
            # Empty bucket: an empty frame built DIRECTLY from the
            # recorded schema — going through read() here would plan
            # the full latest-wins/sum merge across every live file
            # just to return zero rows, defeating the O(bucket)
            # contract exactly on the cheapest case (a miss).
            return self._empty_frame().where(pred)
        if run_files & sel.keys():
            if getattr(run_files, "delta", None):
                return self._sum_read(sel, pre_filter=pred)
            return self._latest_wins_read(sel, pre_filter=pred)
        return (self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in sel])
            .where(pred))

    def _latest_wins_read(self, files: dict[str, int],
                          pre_filter=None) -> DataFrame:
        """LATEST-WINS merge over ``files`` ({relative path: the
        version its rows rank at}): one parquet read per distinct
        ranking-version group, each tagged with that version; a key
        appears at most once per version (append_run enforces
        per-batch key uniqueness, merge keeps one row per key), so
        row_number over (key ORDER BY _v desc) is deterministic.  The
        file path rides as a SECONDARY sort key: correctness does not
        depend on it while every commit is key-unique, but a caller
        that passed _source_unique=True with a broken guarantee would
        otherwise get a nondeterministic row_number winner at read
        time — the tie now resolves stably (and `_v desc, _f desc` is
        the order the design doc specifies).  Group count = live run
        generations — bounded by the compaction ladder
        (docs/TXN_RUNS_DESIGN.md)."""
        from pyspark.sql import Window

        by_v: dict[int, list[str]] = {}
        for f, v in files.items():
            by_v.setdefault(v, []).append(os.path.join(self.path, f))

        def _part(v: int, paths: list[str]) -> DataFrame:
            p = self.spark.read.parquet(*paths)
            if pre_filter is not None:
                # Applied per part BEFORE the union/window so it
                # pushes into each generation's parquet scan — the
                # winner per surviving key is unchanged (the filter
                # is on the window's own partition key).
                p = p.where(pre_filter)
            return (p.withColumn("_v", F.lit(v))
                    .withColumn("_f", col("_metadata.file_path")))

        parts = [_part(v, paths) for v, paths in sorted(by_v.items())]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        w = Window.partitionBy(self.key).orderBy(
            col("_v").desc(), col("_f").desc())
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(col("_rn") == 1).drop("_rn", "_v", "_f"))

    def _sum_read(self, files, pre_filter=None) -> DataFrame:
        """Commutative SUM merge over delta-run histories: one plain
        union of the files (no version tags, no window — addition is
        order-free), grouped per key with every non-key column
        summed back to its ORIGINAL dtype (F.sum widens int→bigint;
        the cast keeps the table schema stable across folds)."""
        df = self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in files])
        if pre_filter is not None:
            df = df.where(pre_filter)
        return df.groupBy(self.key).agg(
            *[F.sum(c).cast(df.schema[c].dataType).alias(c)
              for c in df.columns if c != self.key])

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read; pass version for time travel.  Over a
        history containing append-run commits the read applies
        LATEST-WINS per key (newest commit's row for a key shadows
        older ones — the LSM read merge); over append-DELTA commits
        it applies the per-key SUM merge (_sum_read); a merge-only
        history reads the active files verbatim exactly as before."""
        _, active, added_at, run_files = self._snapshot_runs(version)
        if run_files:
            if getattr(run_files, "delta", None):
                # append_run/append_delta refuse to mix at write
                # time, so a run set here is all-delta.
                return self._sum_read(active)
            return self._latest_wins_read(
                {f: added_at[f] for f in active})
        if not active:
            return self._empty_frame()
        paths = [os.path.join(self.path, f) for f in active]
        return self.spark.read.parquet(*paths)

    def _empty_frame(self) -> DataFrame:
        """Zero-row frame with the table schema, touching NO data
        files: from the recorded schema (create() stores it;
        checkpoints carry it), falling back to probing any referenced
        file for tables created before the schema was recorded."""
        sj = self._table_schema(self.version())
        if sj:
            from pyspark.sql.types import StructType
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(sj)))
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

    def _read_buckets(self, active: dict[str, int],
                      buckets: set[int],
                      added_at: dict[str, int] | None = None,
                      run_files: set[str] | None = None
                      ) -> DataFrame | None:
        """Current rows of the given buckets.  When live append-run
        files intersect the selection (and the caller passed the
        run-aware snapshot maps), the read applies latest-wins per
        key — a plain union here would resurrect shadowed rows into
        a bucket rewrite (the exact corruption the pre-r10 typed
        refusal guarded against); run-free selections stay the plain
        union with no window in the plan."""
        sel = {f: b for f, b in active.items() if b in buckets}
        if not sel:
            return None
        if run_files and added_at and (run_files & sel.keys()):
            if getattr(run_files, "delta", None):
                return self._sum_read(sel)
            return self._latest_wins_read(
                {f: added_at[f] for f in sel})
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in sel])

    # ------------------------------------------------------- commits
    def _stage(self, df: DataFrame) -> dict[str, int]:
        """Write df's rows as immutable per-bucket uuid files under
        data/; returns {relative path: bucket}.  Invisible until a
        commit references them."""
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
        ckpt = self._latest_checkpoint(self.version())
        if ckpt is not None and v <= ckpt[0]:
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

    def _discard(self, add: dict[str, int]) -> None:
        for f in add:
            try:
                os.remove(os.path.join(self.path, f))
            except OSError:
                pass

    # --------------------------------------------------- streaming
    def _txn_marks(self, upto: int) -> dict[str, int]:
        """{app: highest committed batch_id} at version `upto`:
        newest checkpoint's carried marks + the records above it
        (records expired by expire_log() are already folded into the
        checkpoint, so nothing is lost — and nothing raises)."""
        ckpt = self._latest_checkpoint(upto)
        start = ckpt[0] + 1 if ckpt else 1
        marks: dict[str, int] = dict(ckpt[2]) if ckpt else {}
        for v in range(start, upto + 1):
            try:
                t = self._commit_record(v).get("txn")
            except KeyError:
                continue
            if t:
                marks[t["app"]] = max(marks.get(t["app"], -1),
                                      int(t["batch_id"]))
        return marks

    def _table_schema(self, upto: int) -> str | None:
        """The table's schema as a StructType JSON string: from the
        newest checkpoint, else from the first commit record that
        recorded one (create() does)."""
        ckpt = self._latest_checkpoint(upto)
        if ckpt and ckpt[3]:
            return ckpt[3]
        start = ckpt[0] + 1 if ckpt else 1
        for v in range(start, upto + 1):
            try:
                rec = self._commit_record(v)
            except KeyError:
                continue
            if rec.get("schema"):
                return rec["schema"]
        return None

    def last_txn(self, app: str) -> int:
        """Highest batch_id committed under `app` (-1 if none) — the
        Delta txn-metadata idempotence pattern: a streaming writer
        tags each commit with (app, batch_id); a replayed micro-batch
        whose id is already in the log is skipped WHOLE, which is
        sound because the commit (unlike a multi-partition file
        overwrite) is atomic.  Survives expire_log(): checkpoints
        carry the marks forward."""
        return self._txn_marks(self.version()).get(app, -1)

    def txn_marks(self) -> dict[str, int]:
        """All streaming idempotence marks at the current version:
        {app: highest committed batch_id}.  One log read — callers
        that must classify MANY (app, batch_id) pairs (e.g. the
        admission store's committed-tag fold) use this instead of a
        last_txn() call per pair."""
        return self._txn_marks(self.version())

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
            snap = self._snapshot_runs()
            base["snap"] = snap
            v, active, added_at, runs = snap
            current = self._read_buckets(active, touched,
                                         added_at, runs)
            out = inc if current is None else (
                current.select(*inc.columns).unionByName(inc)
                .groupBy(self.key)
                .agg(*[F.sum(c).alias(c) for c in sum_cols]))
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
        Returns the committed version (unchanged if `updates` is
        empty)."""
        validated_head = self._check_discipline(want_delta=False)
        if not _source_unique:
            dup = (updates.groupBy(self.key).count()
                   .where(col("count") > 1).take(1))
            if dup:
                raise ValueError(
                    f"append_run: updates has >1 row for key "
                    f"{dup[0][0]!r}; latest-wins needs at most one "
                    f"source row per key per commit")
        staged = self._stage(updates)
        if not staged:
            # The write barrier must still run (and its failures
            # surface) even when nothing landed — the caller's
            # maintenance writes are not optional just because the
            # batch admitted nothing.
            if _pre_claim is not None:
                _pre_claim()
            return self.version()
        record = {"op": "append-run", "add": staged, "remove": []}
        if _txn is not None:
            record["txn"] = _txn
        if _pre_claim is not None:
            # Same contract as merge_into's barrier: runs once
            # between staging and the first claim; staged files are
            # discarded if it raises.
            try:
                _pre_claim()
            except BaseException:
                self._discard(staged)
                raise
        return self._claim_append(staged, record, max_retries,
                                  validated_head, want_delta=False,
                                  op="append_run")

    def append_delta(self, increments: DataFrame, *,
                     _txn: dict | None = None,
                     _pre_claim=None,
                     max_retries: int = 50) -> int:
        """O(batch) commit of keyed SUM INCREMENTS — the
        aggregate-merge LSM mode: `increments` (same columns as the
        table: key + numeric sum columns) land as a new run whose
        rows ADD to a key's totals at read time (_sum_read), so a
        streaming sum-accumulator's commit never reads table state —
        the delta twin of append_run's latest-wins
        (accumulate_batch(commit_mode="delta") routes here).
        Duplicate keys within one batch are legal (sums commute);
        lost claims re-claim with no recompute; `_txn`/`_pre_claim`
        behave exactly as in append_run.  Refuses typed over live
        latest-wins runs (a table is one merge discipline at a
        time).  Returns the committed version (unchanged when
        `increments` is empty)."""
        validated_head = self._check_discipline(want_delta=True)
        sj = self._table_schema(self.version())
        if sj:
            want = {f["name"]: f["type"]
                    for f in json.loads(sj)["fields"]}
            got = {f["name"]: f["type"] for f in
                   json.loads(increments.schema.json())["fields"]}
            if got != want:
                # Names AND types: a name-only check lets a string
                # column through, and F.sum over it yields nulls cast
                # back to the original dtype — silent data loss, not
                # a typed refusal.
                bad = sorted(c for c in set(want) | set(got)
                             if want.get(c) != got.get(c))
                raise ValueError(
                    f"append_delta: increment schema diverges from "
                    f"the table schema on {bad} (increments "
                    f"{ {c: got.get(c) for c in bad} } vs table "
                    f"{ {c: want.get(c) for c in bad} }) — deltas "
                    f"must cover exactly the summed schema, "
                    f"type-identical")
        staged = self._stage(increments)
        if not staged:
            if _pre_claim is not None:
                _pre_claim()
            return self.version()
        record = {"op": "append-delta", "add": staged, "remove": []}
        if _txn is not None:
            record["txn"] = _txn
        if _pre_claim is not None:
            try:
                _pre_claim()
            except BaseException:
                self._discard(staged)
                raise
        return self._claim_append(staged, record, max_retries,
                                  validated_head, want_delta=True,
                                  op="append_delta")

    def _check_discipline(self, want_delta: bool) -> int:
        """Refuse typed when the live run set's merge discipline
        (latest-wins vs sum-merge) conflicts with the appender's —
        a table is ONE discipline at a time, or reads would silently
        mis-merge (sum latest-wins rows / latest-wins delta rows).
        Returns the log head the check validated at, so the claim
        loop can re-check only when the head moves."""
        head, _, _, runs = self._snapshot_runs()
        if want_delta:
            if runs and not getattr(runs, "delta", None):
                raise NotImplementedError(
                    f"{self.path}: append_delta over live latest-wins"
                    f" runs — a table is latest-wins or sum-merge, "
                    f"never both; compact_runs() first")
        elif getattr(runs, "delta", None):
            raise NotImplementedError(
                f"{self.path}: append_run over live DELTA runs — a "
                f"table is latest-wins or sum-merge, never both; "
                f"compact_runs() first")
        return head

    def _claim_append(self, staged: dict[str, int], record: dict,
                      max_retries: int, validated_head: int,
                      want_delta: bool, op: str) -> int:
        """Claim loop shared by append_run/append_delta.  The entry
        discipline check is check-then-act on its own: two writers of
        OPPOSITE modes can both see an empty run set and both commit,
        leaving a mixed table that read() then silently mis-merges.
        Closed here: before claiming on top of head H, the discipline
        must have been validated at H — a winning claim at H+1 then
        proves no opposite-mode run landed at or below H (any commit
        between the validation and our claim makes the claim LOSE,
        and the retry revalidates)."""
        for _ in range(max_retries):
            head = self.version()
            if head != validated_head:
                try:
                    head = self._check_discipline(want_delta)
                except NotImplementedError:
                    self._discard(staged)
                    raise
                validated_head = head
            next_v = head + 1
            if self._claim(next_v, record):
                if (self.checkpoint_every
                        and next_v % self.checkpoint_every == 0):
                    try:
                        self.checkpoint()
                    except Exception:
                        pass  # maintenance must never fail a commit
                return next_v
        self._discard(staged)
        raise CommitConflictError(
            f"{op} lost {max_retries} claims on {self.path}")

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
            base_v, active, _, runs = self._snapshot_runs()
            if not runs:
                return None
            staged = self._stage(self.read(version=base_v))
            # "fold": full marks this merge record as CONTENT-
            # PRESERVING (a rewrite of the snapshot it read, no
            # upserts) — changes() uses it to keep CDC reads valid
            # across major compactions.
            record = {"op": "merge", "fold": "full", "add": staged,
                      "remove": sorted(active)}
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
            return self._empty_frame()
        cur: dict[str, int] = {}  # rel path -> latest-wins rank
        delta = False
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
                delta = delta or op == "append-delta"
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
        if not cur:
            return self._empty_frame()
        if delta:
            return self._sum_read(cur)
        return self._latest_wins_read(cur)

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
        ckpt = self._latest_checkpoint(head)
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
        if oldest > 1 and ckpt is not None:
            out.append({"version": ckpt[0], "op": "checkpoint",
                        "n_add": len(ckpt[1]), "n_remove": 0})
        return out

    def table_stats(self) -> dict:
        """Ops audit of the table's physical state (footer reads
        only, no Spark job): current version, live file count, base
        vs run row counts, and the run GENERATION ladder (one entry
        per latest-wins ranking version with its file and row
        counts) — what a maintenance cadence inspects to decide
        whether compact_runs is due, and the corpus-table mirror of
        Engine.posting_store_stats' run report."""
        head, active, added_at, runs = self._snapshot_runs()
        base_files = [f for f in active if f not in runs]
        gens: dict[int, list[str]] = {}
        for f in runs:
            gens.setdefault(added_at[f], []).append(f)
        return {
            "version": head,
            "n_files": len(active),
            "base_files": len(base_files),
            "base_rows": self._files_rows(base_files),
            "run_rows": self._files_rows(runs),
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
        _, _, added_at, runs = self._snapshot_runs()
        return len({added_at[f] for f in runs})

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
            base_v, active, added_at, runs = self._snapshot_runs()
            if not runs:
                return None
            gens: dict[int, list[str]] = {}
            for f in runs:
                gens.setdefault(added_at[f], []).append(f)
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
            base_files = [f for f in active if f not in runs]
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
            head = base_v
            conflicted = False
            delta = getattr(runs, "delta", set())
            for asof, _rows, files, _n in sorted(plan, reverse=True):
                if delta:
                    # Delta folds SUM (commutative — the fold of
                    # deltas is still a delta); the record carries
                    # the kind so reads keep sum-merging it.
                    folded = self._sum_read(files)
                else:
                    folded = self._latest_wins_read(
                        {f: added_at[f] for f in files})
                staged = self._stage(folded)
                record = {"op": "fold-runs", "add": staged,
                          "remove": sorted(files), "asof": asof}
                if delta:
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
        run-aware (version, active, added_at, run_files) snapshot the
        CURRENT `updates` were derived from (_snapshot_runs' shape) —
        the claim then uses that as its conflict base instead
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

        Correct over LIVE APPEND-RUN histories since r10: bucket reads
        are run-aware (latest-wins per key via _read_buckets), the
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

        base_v, active, added_at, run_files = (
            _base() if _base is not None else self._snapshot_runs())
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
                    current = self._read_buckets(active, touched,
                                                 added_at, run_files)
                    # No checkpoint needed: data files are immutable —
                    # the merge reads old files and stages NEW ones,
                    # never overwriting what it reads.
                    merged = updates if current is None else (
                        current.join(drop_keys.distinct(), self.key,
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
            remove = [f for f, b in active.items() if b in touched]
            next_v = base_v + 1
            record = {"op": "merge", "add": staged, "remove": remove}
            if _txn is not None:
                record["txn"] = _txn
            if self._claim(next_v, record):
                if (self.checkpoint_every
                        and next_v % self.checkpoint_every == 0):
                    try:
                        self.checkpoint()
                    except Exception:
                        pass  # maintenance must never fail a commit
                return next_v
            # Lost the claim: fold in the interleaved commits.
            (new_v, new_active,
             new_added_at, new_run_files) = self._snapshot_runs()
            interleaved_buckets: set[int] = set()
            expired_mid_scan = False
            for v in range(base_v + 1, new_v + 1):
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
                interleaved_buckets |= {active.get(f)
                                        for f in rec["remove"]
                                        if f in active}
            base_v, active = new_v, new_active
            added_at, run_files = new_added_at, new_run_files
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
                        (base_v, active,
                         added_at, run_files) = _base()
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
        A checkpoint written before txn marks / schema were carried
        (legacy) is REWRITTEN with freshly computed ones first:
        expiring below a mark-less checkpoint would silently discard
        every (app, batch_id) idempotence mark beneath it, letting a
        crash-replayed streaming batch pass the exactly-once gate
        (double-count).  The rewrite folds from the newest
        marks-carrying checkpoint below it plus the still-present
        records; if those records are themselves already expired the
        marks are genuinely unrecoverable and expire_log refuses.

        No-op without a checkpoint.  Returns count deleted."""
        ckpt = self._latest_checkpoint(self.version())
        if ckpt is None:
            return 0
        # Rewrite ONLY when the marks are missing: a vintage table
        # whose schema was never recorded anywhere keeps schema=None
        # even after a rewrite, and gating on it would re-run the
        # record-reading rebuild on every later expire_log — which
        # crashes once the records it reads are themselves expired.
        # Schema is harvested opportunistically inside the same
        # rewrite; a marks-carrying schema-less checkpoint expires
        # fine (the vintage empty-read trade, documented in read()).
        if not ckpt[4]:
            self._rewrite_checkpoint_with_marks(ckpt)
        n = 0
        for v in range(1, ckpt[0] + 1):
            try:
                os.remove(_version_file(self.path, v))
                n += 1
            except FileNotFoundError:
                pass
        return n

    def _rewrite_checkpoint_with_marks(self, ckpt) -> None:
        """Upgrade a legacy checkpoint in place (atomic tmp+replace)
        with the txn marks and schema as of its version, computed
        from the newest marks-CARRYING checkpoint below it plus the
        commit records between the two.  Raises if any needed record
        is already expired — the marks would then be unrecoverable
        and expiry must not proceed."""
        best, active, _, schema, _ = ckpt
        # Newest checkpoint strictly below `best` that carried marks.
        base_v, marks = 0, {}
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            names = []
        lower = sorted((int(n[6:16]) for n in names
                        if n.startswith("ckpt-v")
                        and n.endswith(".json")
                        and int(n[6:16]) < best), reverse=True)
        for v in lower:
            with open(os.path.join(_log_dir(self.path),
                                   f"ckpt-v{v:010d}.json")) as fh:
                data = json.load(fh)
            if "txns" in data:
                base_v, marks = v, dict(data["txns"])
                if schema is None:
                    schema = data.get("schema")
                break
        for v in range(base_v + 1, best + 1):
            try:
                rec = self._commit_record(v)
            except KeyError:
                raise ValueError(
                    f"{self.path}: checkpoint v{best} carries no txn "
                    f"marks and record v{v} needed to rebuild them "
                    f"is already expired — refusing expire_log(); "
                    f"the marks below this checkpoint are the only "
                    f"defense against streaming double-counts")
            t = rec.get("txn")
            if t:
                marks[t["app"]] = max(marks.get(t["app"], -1),
                                      int(t["batch_id"]))
            if schema is None and rec.get("schema"):
                schema = rec["schema"]
        path = os.path.join(_log_dir(self.path),
                            f"ckpt-v{best:010d}.json")
        # Preserve run-aware fields (added_at / runs) if the file
        # already carries them — losing them under expiry would lose
        # the latest-wins file order of an append-run history.
        extra = {}
        try:
            with open(path) as fh:
                prev = json.load(fh)
            extra = {k: prev[k]
                     for k in ("added_at", "runs", "delta_runs")
                     if k in prev}
        except (OSError, ValueError):
            pass
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"version": best, "active": active, **extra,
                       "txns": marks, "schema": schema}, fh)
        os.replace(tmp, path)

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
                keep |= set(self._snapshot(v)[1])
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
