"""Streaming document admission: dedup-screened, exactly-once corpus
ingestion — the end-to-end loop an LLM-data ingestion service runs.

Per micro-batch of arriving documents:

1. exact dedup inside the batch (md5, keep min doc_id);
2. near-dup screen — the package's one batch-vs-stored screen
   (``operators/dedup._screen_pairs``, also behind
   ``incremental_dedup_verdict`` and ``Engine.dedup_incoming``): ONE
   fused candidate+verify pass finds batch-vs-batch pairs AND
   batch-vs-corpus matches against the INCREMENTALLY MAINTAINED
   posting store (never a corpus rescan; the corpus read prunes to
   the batch's shingle buckets), and ``_best_corpus_match`` picks each
   survivor's dup target;
3. commit — admitted docs land in the transactional corpus table
   (txn.TxnTable) in one atomic commit tagged (app, batch_id): a
   crash-replayed batch is skipped whole (exactly-once).  The default
   commit is an APPEND-RUN (O(batch), never reads table state —
   docs/TXN_RUNS_DESIGN.md); reads resolve latest-wins per key and
   the run ladder folds on the ``compact_every`` cadence;
4. maintenance — the admitted docs' postings land in
   ``postings_dir/ingest_batch=<id>/s_bucket=<b>/``, their shingle
   counts (the screen's corpus |B|) in ``sizes_dir/ingest_batch=<id>/``
   and the full admission log (every verdict, kept or rejected, with
   the dup target) in ``log_dir/ingest_batch=<id>/``; all three are
   per-batch OVERWRITES, so a replayed batch rewrites the same files
   instead of duplicating.

Scale notes (100 TB): every stage is batch-sized except the corpus
screen, which touches the corpus only through the posting store's
shingle equi-join.  The store has ONE layout (``s_bucket``-partitioned
with the modulus pinned in its meta) and ONE maintenance path: the
sink folds committed per-batch increments IN PLACE on the
``compact_every`` cadence (compact_store_in_place, a stepped merge),
exactly like small-file compaction of any streaming sink.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

# The one near-duplicate screen lives with the dedup operators.  The
# sink looks _screen_pairs up through THIS module's namespace at call
# time, so a wrapper patched onto admission._screen_pairs (bench.py's
# screen timer, the sidecar/shard spy tests) sees every screen.
from data_ingestion_challenge_spark.operators.dedup import (
    _best_corpus_match, _postings, _screen_pairs, ngram_jaccard_pairs,
)

DOCS_SCHEMA = "doc_id long, text string, lang string, source string"

# Shingle-hash partition fan-out of a FRESH posting store (an existing
# store keeps the modulus pinned in its meta): corpus reads in the
# screen prune to the batch's buckets.  At 100 TB you'd raise this
# (it bounds both the pruning granularity and the per-batch bucket-id
# collect).
N_SHINGLE_BUCKETS = 64

_APP = "doc_admission"

_META = "_admission_meta.json"

_LEASE = "_admission_lease"


class ConcurrentAdmissionError(RuntimeError):
    """A second admission stream tried to screen into a posting store
    that another LIVE stream is already screening into."""


def _acquire_admission_lease(postings_dir: str, _name: str = _LEASE,
                             _wait_live: bool = False,
                             _tries: int = 6) -> str:
    """Enforce the single-admission-stream contract: the corpus
    screen is not serializable across two concurrent streams (each
    would screen against a corpus missing the other's in-flight
    admissions and both copies of a pair could admit), so a second
    stream must fail LOUDLY instead of silently double-admitting.

    O_EXCL lease file (pid inside) in the posting store — the store
    is the resource the screen reads, so the lease travels with it.
    A crashed holder leaves a stale lease: if its pid is dead ON THIS
    HOST the lease is stolen; liveness across hosts is not checkable
    this way, so multi-host deployments must route admission through
    one scheduler (the txn log still makes double-COMMITS impossible;
    the lease is about double-SCREENING).  Returns the lease path for
    release_admission_lease().

    Steal protocol: the read-verify-unlink of a dead holder's lease
    is serialized by a sibling ``.steal`` O_EXCL lock, and the pid is
    RE-CHECKED inside it before the unlink — without that, two
    stealers race (A unlinks, re-creates with its live pid; B's
    queued unlink then deletes A's fresh lease) and BOTH acquire,
    silently defeating the single-stream guarantee.  A holder that
    died between creating the lease and writing its pid leaves an
    unparsable file: treated as transient for 60 s (the write is ms
    away from the create), stale after.

    ``_name``/``_wait_live``/``_tries`` generalize the SAME proven
    machinery (pid liveness, serialized steal, torn-write aging)
    for other short exclusive sections — the shard-meta stamp lock
    rides it with ``_wait_live=True`` (a live stamp holder finishes
    in ms, so waiting beats the lease's fail-loud policy) instead
    of hand-rolling an mtime-aged lock whose unserialized steal
    would re-open the very race it guards (review finding, r16)."""
    import time as _time

    os.makedirs(postings_dir, exist_ok=True)
    lease = os.path.join(postings_dir, _name)
    slock = lease + ".steal"

    def _steal_if_still(dead_repr: str) -> None:
        """Unlink the lease iff its content still reads dead_repr,
        under the steal lock.  A steal lock abandoned by a crash
        mid-steal (ms window) ages out after 30 s."""
        try:
            fd = os.open(slock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            try:
                if _time.time() - os.path.getmtime(slock) > 30:
                    os.unlink(slock)
            except OSError:
                pass
            return  # another stealer is mid-steal: retry the loop
        try:
            try:
                with open(lease) as fh:
                    if fh.read().strip() == dead_repr:
                        os.unlink(lease)
            except (FileNotFoundError, OSError):
                pass
        finally:
            try:
                os.unlink(slock)
            except OSError:
                pass

    for _ in range(_tries):
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(str(os.getpid()))
            return lease
        except FileExistsError:
            try:
                with open(lease) as fh:
                    raw = fh.read().strip()
                pid = int(raw)
            except FileNotFoundError:
                # Holder mid-release: the unlink-then-reacquire window
                # is milliseconds, but without a sleep 6 retries can
                # burn through it and raise "persistent contention"
                # spuriously.
                _time.sleep(0.1)
                continue
            except ValueError:
                # Unparsable: holder died between create and write,
                # or we read mid-write.  Fresh → transient; old →
                # dead holder's torn lease, steal whatever content
                # it has.
                try:
                    age = _time.time() - os.path.getmtime(lease)
                except OSError:
                    continue
                if age > 60:
                    _steal_if_still(raw)
                    # If the steal lock was contended the lease may
                    # still exist; pace the retry like the other
                    # transient paths.
                    _time.sleep(0.1)
                else:
                    _time.sleep(0.2)
                continue
            alive = True
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                alive = False
            except PermissionError:
                pass  # exists under another uid: alive
            if alive:
                if _wait_live:
                    # A live holder of a SHORT lock (the stamp):
                    # wait for its ms-long critical section instead
                    # of failing the build.
                    _time.sleep(0.1)
                    continue
                raise ConcurrentAdmissionError(
                    f"{postings_dir}: admission stream already live "
                    f"(pid {pid}).  Two concurrent screens would "
                    f"each miss the other's in-flight admissions "
                    f"and could both admit copies of a duplicate.  "
                    f"If the holder crashed on another host, remove "
                    f"{lease} by hand.")
            _steal_if_still(raw)
            _time.sleep(0.1)  # steal-lock contention: pace the retry
    raise ConcurrentAdmissionError(
        f"{postings_dir}: could not acquire the lock {lease} "
        f"(persistent contention)")


def release_admission_lease(lease: str) -> None:
    """Release only a lease WE hold: after a manual lease removal
    plus a second stream's acquisition, an unconditional unlink here
    would delete the second stream's LIVE lease on our exit and
    silently re-open the double-screen window — so the content is
    checked against our pid first."""
    try:
        with open(lease) as fh:
            if fh.read().strip() != str(os.getpid()):
                return
        os.unlink(lease)
    except FileNotFoundError:
        pass  # already gone (manual cleanup) — fine
    except OSError as exc:
        # Release runs in `finally` blocks: raising here would REPLACE
        # an in-flight drain exception with a lease-file I/O error and
        # misdirect debugging — but silence would leave our own lease
        # behind with no record of why (the next stream then pays the
        # stale/steal protocol).  Warn: visible, never masking.
        import warnings
        warnings.warn(f"could not release admission lease {lease}: "
                      f"{exc}", RuntimeWarning, stacklevel=2)


_COMPACTING = "_compacting"

_COMPACT_MANIFEST = "_compact_manifest.json"

# Screen lever #1 (docs/SCREEN_SCALING.md): the posting store's
# OPTIONAL outer partition level.  The store-internal partition
# column is always named s_shard (the SOURCE column it derives from
# is a sink parameter, persisted in the store meta); docs whose
# shard value is NULL route to the reserved GLOBAL shard, which
# every screen scans unconditionally.
SHARD_COL = "s_shard"
GLOBAL_SHARD = "__global__"

# r18 (write fan-out, r16/r17 verdict carry-over): per-batch posting
# INCREMENTS of a sharded store land under the single reserved
# partition value ``s_shard=__mixed__`` with each row's TRUE shard in
# the ``doc_shard`` DATA column — one file per s_bucket per batch
# (identical to the unsharded drain) instead of one per non-empty
# (shard, bucket) cell, which at bench geometry roughly doubled drain
# time (docs/SCREEN_SCALING.md).  Folds re-derive the real
# ``s_shard=<value>`` dirs from doc_shard, so the BULK of the store
# (the compacted runs) keeps plain partition-prune semantics; screens
# apply the exact same shard predicate to mixed increments as a data
# filter (see _admit_body) — the visible-posting set, and therefore
# every verdict, is bit-identical (tests/test_shard_sink.py).
MIXED_SHARD = "__mixed__"
DOC_SHARD = "doc_shard"


def _resolved_shard(df: DataFrame) -> DataFrame:
    """Rewrite SHARD_COL to the row's EFFECTIVE shard: a mixed
    increment row's shard is its doc_shard data value (defensively
    coalesced to the global shard — a NULL here must degrade to
    always-scanned, never to a __HIVE_DEFAULT_PARTITION__ dir or a
    fail-closed prune miss); any other row's is its partition value.
    For FOLD/SWEEP readers only — the screen keeps its partition
    prune on the raw column and applies the mixed-row predicate as a
    data filter, because an isin() over this when() expression would
    not reach PartitionFilters."""
    eff = F.when(F.col(SHARD_COL) == MIXED_SHARD,
                 F.coalesce(F.col(DOC_SHARD), F.lit(GLOBAL_SHARD))) \
        .otherwise(F.col(SHARD_COL))
    return df.withColumn(SHARD_COL, eff)


def _read_store_resolved(spark: SparkSession, store_dir: str,
                         paths: list[str] | None = None,
                         sharded: bool = False) -> DataFrame:
    """Posting-store read for consumers of shard VALUES (folds, the
    cross-shard sweep): explicit schema including the doc_shard data
    column, SHARD_COL resolved to the effective shard.  doc_shard is
    absent from compacted-run files and pre-r18 increments — the
    explicit schema reads it as NULL there, and those rows keep their
    partition value (they are never __mixed__)."""
    df = _read_store(spark, store_dir, paths=paths,
                     data_schema="doc_id long, s string"
                                 + (", doc_shard string" if sharded
                                    else ""),
                     sharded=sharded, bucketed=True)
    return _resolved_shard(df) if sharded else df


def _write_postings_layout(df: DataFrame, dst: str, mod: int,
                           sort: bool = True,
                           shard_col: str | None = None) -> None:
    """The posting store's on-disk layout contract in ONE place —
    bucket key ``pmod(hash(s), mod)``, repartition ON the bucket
    before partitionBy (one file per bucket instead of tasks×mod),
    optional secondary s-sort.  Every posting write (per-batch
    increments and compacted runs alike) must route through here:
    two writers disagreeing on the bucket function would silently
    break the screen's PartitionFilters pruning and admit true
    duplicates.

    ``shard_col`` (screen lever #1, docs/SCREEN_SCALING.md — wired
    into the sink since r16 via document_admission_sink(shard_col=)):
    an ADDITIVE outer partition level ``<shard_col>=<k>/s_bucket=<b>``
    by a coarse corpus dimension (source, time window, language).
    Near-duplicates overwhelmingly share the shard key in crawl
    corpora, so a screen can prune its corpus read to the batch's
    shard(s) + the global shard — scanned rows ∝ shard fraction —
    with plain partition pruning and no reader logic change; the
    cross-shard dedup sweep (sweep_cross_shard_dups) stays a
    batch job over the full store.  Since r18 only FOLDS write real
    shard dirs; per-batch increments ride the reserved __mixed__
    shard value with the true shard in the doc_shard data column
    (see MIXED_SHARD above), killing the per-(shard, bucket) file
    fan-out the sharded drain used to pay on every batch.
    Layout + pruning composition pinned in tests/test_shard_layout
    .py; the sink-level equivalence/crash battery lives in
    tests/test_shard_sink.py."""
    parts = ([shard_col] if shard_col else [])
    w = (df.withColumn("s_bucket", F.pmod(F.hash("s"), F.lit(mod)))
         .repartition(*[col(c) for c in parts + ["s_bucket"]]))
    if sort:
        w = w.sortWithinPartitions(*parts, "s_bucket", "s")
    (w.write.mode("overwrite")
     .partitionBy(*parts, "s_bucket").parquet(dst))


def _read_store(spark: SparkSession, store_dir: str,
                paths: list[str] | None = None,
                data_schema: str = "doc_id long, s string",
                sharded: bool = False,
                bucketed: bool = False) -> DataFrame:
    """Read a posting/sizes store with an EXPLICIT schema — partition
    columns included and STRING-typed where the stored value is a
    string.  Spark's partition-column type inference must never run
    on these reads (r16 advice, confirmed on pyspark 4.1.2): a store
    whose ``s_shard`` dir values are all numeric- or date-like (no
    ``__global__`` dir yet) infers the column as int/date, and the
    screen's ``isin('__global__', ...)`` prune then throws
    CAST_INVALID_INPUT under ANSI — failing every micro-batch — while
    a leading-zero value ('0123') silently reads back as 123, never
    matches the batch's string shard set, and the prune hides those
    postings from every future screen (true dups admitted).  An
    explicit schema types each partition column once, from the layout
    contract: ``ingest_batch``/``s_shard`` are strings (exact
    round-trip of the unescaped dir value), ``s_bucket`` an int (the
    layout writes pmod values).  PartitionFilters pruning is
    unaffected — pruning keys off the directory structure, not the
    inferred types."""
    parts = ["ingest_batch string"]
    if sharded:
        parts.append(f"{SHARD_COL} string")
    if bucketed:
        parts.append("s_bucket int")
    schema = ", ".join([data_schema] + parts)
    reader = spark.read.option("basePath", store_dir).schema(schema)
    return reader.parquet(*(paths if paths is not None
                            else [store_dir]))


def _is_base(tag: str) -> bool:
    """Compacted-run tags are NEGATIVE integers ("-1", "-2", …):
    micro-batch tags are non-negative ints or run-scoped strings, so
    a negative tag can only have been written by a fold — which folds
    committed data only — and can never collide with a real batch id
    (the sink's replay guard is unaffected)."""
    try:
        return int(tag) < 0
    except ValueError:
        return False


def _tag_committed(marks: dict[str, int], tag: str) -> bool:
    """Whether an ``ingest_batch=<tag>`` increment belongs to a batch
    whose txn COMMITTED, given the table's txn_marks().  Tag formats
    are the sink's own: negative ints (compacted runs — built from
    committed tags only, so always committed), ``<run_id>-<bid>``
    (run-scoped, app ``doc_admission:<run_id>``), or a bare ``<bid>``
    (direct sink callers, app ``doc_admission``).  Anything
    unparsable is conservatively NOT committed (never folded)."""
    if _is_base(tag):
        return True
    if "-" in tag:
        rid, _, bid = tag.rpartition("-")
        app = f"{_APP}:{rid}"
    else:
        bid, app = tag, _APP
    try:
        return int(bid) <= marks.get(app, -1)
    except ValueError:
        return False


def _finish_swap(store_dir: str, tags: list[str],
                 base_tag: str = "-1") -> None:
    """Complete (or re-complete) the publish step of an in-place
    compaction: delete the folded increment partitions, then move the
    new base (``ingest_batch=<base_tag>``) from the Spark-invisible
    ``_compacting/`` staging dir into place.  Every step is
    idempotent, so a crash anywhere is healed by re-running:
    already-deleted tags are skipped, and the old base is only
    removed immediately before the rename — if the staged base is
    gone, a previous attempt already renamed it, and the live base
    must NOT be touched."""
    import shutil

    src = os.path.join(store_dir, _COMPACTING,
                       f"ingest_batch={base_tag}")
    base = os.path.join(store_dir, f"ingest_batch={base_tag}")
    for t in tags:
        if t == base_tag:
            continue
        d = os.path.join(store_dir, f"ingest_batch={t}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    if os.path.isdir(src):
        if os.path.isdir(base):
            shutil.rmtree(base)
        os.rename(src, base)
    staging = os.path.join(store_dir, _COMPACTING)
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)


def recover_compaction(postings_dir: str,
                       sizes_dir: str | None = None) -> bool:
    """Heal a crashed in-place compaction BEFORE any screen reads the
    store.  Once the manifest is published the swap must complete —
    the store may transiently hold folded tags deleted but the new
    base not yet visible (missed dups) or both (double-counted
    intersections), and the ONLY thing that makes those windows
    unobservable is that this runs, under the admission lease, before
    the next screen.  document_admission_sink calls it at build time;
    compact_store_in_place calls it before starting a new fold.
    Returns True if a crashed swap was completed."""
    import shutil

    manifest = os.path.join(postings_dir, _COMPACT_MANIFEST)
    if not os.path.exists(manifest):
        # No swap in flight: a pre-manifest crash may still have left
        # staging junk; a later fold overwrites it, but clear it so
        # the store dir stays inspectable.
        for d in filter(None, (postings_dir, sizes_dir)):
            staging = os.path.join(d, _COMPACTING)
            if os.path.isdir(staging):
                shutil.rmtree(staging, ignore_errors=True)
        return False
    with open(manifest) as fh:
        plan = json.load(fh)
    base_tag = plan.get("base_tag", "-1")
    _finish_swap(postings_dir, plan["postings"], base_tag)
    # an older manifest may hold "sizes_dir": null and no sizes tags
    sdir = sizes_dir or plan.get("sizes_dir")
    if plan.get("sizes") and sdir:
        _finish_swap(sdir, plan["sizes"], base_tag)
    os.unlink(manifest)
    return True


def _dir_rows(d: str) -> int:
    """Total parquet ROWS under a run dir (0 if absent), read from
    file footers — the auto compaction policy's size signal.  Row
    counts are the LOGICAL run size: file bytes would fold the
    bucketed layout's fixed per-file overhead (~64 files × ~1 KB per
    run) into the signal, which at small store sizes makes every run
    look similar-sized and degenerates the geometric ladder into
    always-merge.  Footer reads are metadata-only (no data I/O)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            try:
                total += pq.read_metadata(
                    os.path.join(root, f)).num_rows
            except (OSError, ValueError) as ex:
                # ArrowInvalid (a ValueError) on a truncated/corrupt
                # footer: under-count and keep going — the policy
                # must degrade gracefully, never wedge the stream on
                # a damaged file the way a raised exception from the
                # per-batch maintenance path would.  But say so: a
                # PERSISTENTLY damaged file silently skews the merge
                # ladder (the run looks smaller than it is) on every
                # cadence tick, and the operator should hear about it.
                import warnings

                warnings.warn(
                    "admission compaction: unreadable parquet footer "
                    f"{os.path.join(root, f)} ({ex}); run size will "
                    "under-count until the file is repaired",
                    RuntimeWarning, stacklevel=2)
    return total


# Stepped-merge ratio of compact_store_in_place(level="auto"): a run
# whose size reaches this fraction of the next-larger run merges into
# it.
_MAJOR_RATIO = 0.5


def compact_store_in_place(spark: SparkSession, postings_dir: str,
                           table, sizes_dir: str,
                           level: str = "major",
                           bloom_sidecars: bool = True) -> int:
    """Fold the admission posting store's per-batch increments into
    compacted runs IN PLACE — the ONE maintenance path of the store,
    which a long-lived ingest stream needs so its corpus reads stop
    paying one tiny file per historical micro-batch.  It rewrites the
    store the stream is already using, so the sink invokes it on its
    ``compact_every`` cadence with no path changes.

    ``level`` is the LSM maintenance policy (at 100 TB the corpus run
    is huge, so rewriting ALL of it every N batches would be
    O(corpus) per fold):
    - ``"major"``: fold EVERYTHING committed (all runs + increments)
      into one run ``ingest_batch=-1`` — maximum read efficiency,
      O(corpus) fold cost;
    - ``"auto"``: STEPPED MERGE (the Lucene/LSM size-tiered scheme):
      the increments fold into a NEW small run, then any run whose
      size has reached ``_MAJOR_RATIO`` (r) of the next-larger run
      merges into it, cascading.  The invariant — every run < r × the
      next — bounds the run count by log_{1/r}(C/(N·b)) and the total
      maintenance write amplification by O(r⁻¹ · log(C/(N·b))) per
      ingested byte: the classic LSM bound, vs Θ(C/(N·b)) for
      always-major.  A large run is never rewritten by a tick whose
      fresh increments stay below r × its size.  Run size = parquet
      ROW counts from footers (logical size — file bytes would fold
      the per-file layout overhead into the signal and degenerate the
      ladder at small stores); no counter state.
    The screen reads every ``ingest_batch=`` partition identically,
    so the run split never changes a verdict (equivalence-tested).

    MUST run under the admission lease (the sink holds it for the
    whole drain): the swap is only safe because no concurrent screen
    can read the store mid-publish.

    Only COMMITTED tags fold (tag → (app, batch_id) → table txn mark):
    a batch that crashed between its posting write and its commit
    keeps its increment untouched, preserving the sink's same-tag
    replay exclusion exactly — folding it into the base would make
    the replay self-match its own survivors and silently drop them.
    Compacted runs (negative tags) are always committed data.

    Crash protocol, per fold: the new run and its sizes run
    (RECOMPUTED from the folded postings — covering by construction,
    even for tags that predate the sizes store) are staged under
    ``_compacting/`` (underscore: invisible to Spark's listing), then
    a manifest naming the folded tags AND the target run tag is
    published atomically, then tags are deleted and the runs renamed
    in.  A crash before the manifest changes nothing; after it,
    recover_compaction() completes the swap before the next screen; a
    crash between cascade steps simply leaves a legal run set for the
    next cadence tick to continue from.  A run or increment that
    lacks its sizes twin for any other reason is healed by the
    screen (_backfill_sizes) before it reads the sizes store.

    ``bloom_sidecars`` (default True) refreshes each folded run's
    per-bucket bloom sidecar after its swap (streaming/sidecar.py):
    the screen uses them to skip (run, bucket) partitions provably
    free of batch shingles.  Build failures degrade to the sidecar-
    less scan; pass False to A/B the screen without them.

    Returns the number of folded increments.  A 0 return does NOT
    mean nothing ran: the auto cascade executes regardless, so a call
    on a quiesced store still heals a crashed mid-cascade run set."""
    if level not in ("major", "auto"):
        raise ValueError(f"level must be major|auto, got {level!r}")
    recover_compaction(postings_dir, sizes_dir)
    marks = table.txn_marks()
    committed = sorted(t for t in _batch_tags(postings_dir)
                       if _tag_committed(marks, t))
    incs = [t for t in committed if not _is_base(t)]
    n_inc = len(incs)
    mod = store_bucket_mod(postings_dir)
    # Sharded stores fold sharded: the s_shard partition column rides
    # the read and the fold re-partitions by it — the layout is a
    # store property (meta), identical for every writer.
    sharded = store_shard_col(postings_dir) is not None

    def _fold(folded: list[str], base_tag: str) -> None:
        """One atomic fold: read the folded partitions, stage the new
        run (+ recomputed sizes run), publish the manifest, swap —
        then (best-effort) refresh the new run's bloom sidecar."""
        paths = [os.path.join(postings_dir, f"ingest_batch={t}")
                 for t in folded]
        dst = os.path.join(postings_dir, _COMPACTING,
                           f"ingest_batch={base_tag}")
        cols = ["doc_id", "s"] + ([SHARD_COL] if sharded else [])
        # Explicit schema (_read_store): the fold's read-back of shard
        # values must round-trip exactly — inference would rewrite a
        # leading-zero shard ('0123') as 123 into the new base run.
        # RESOLVED read (r18): mixed increment rows take their true
        # shard from the doc_shard data column, so the staged run is
        # written with real s_shard=<value> dirs and no doc_shard
        # column — the bulk of the store stays partition-prunable.
        post = _read_store_resolved(spark, postings_dir, paths=paths,
                                    sharded=sharded).select(*cols)
        # One s-sorted file per shingle bucket.
        _write_postings_layout(post, dst, mod,
                               shard_col=SHARD_COL if sharded
                               else None)
        # The sizes run comes from the folded POSTINGS, not a union
        # of sizes tags: n is by definition the doc's posting count,
        # and deriving it from the data being folded covers every
        # folded doc even when some folded tag predates the sizes
        # store (a union of sizes tags would silently UNDER-cover,
        # and an under-covering store admits missed dups).  Read back
        # the STAGED run rather than re-scanning every increment.
        sfolded = sorted(t for t in _batch_tags(sizes_dir)
                         if t in set(folded))
        _write_sizes_run(spark.read.parquet(dst),
                         os.path.join(sizes_dir, _COMPACTING,
                                      f"ingest_batch={base_tag}"))
        if base_tag not in sfolded:
            sfolded.append(base_tag)
        manifest = os.path.join(postings_dir, _COMPACT_MANIFEST)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"postings": folded, "sizes": sfolded,
                       "sizes_dir": sizes_dir,
                       "base_tag": base_tag}, fh)
        os.replace(tmp, manifest)
        _finish_swap(postings_dir, folded, base_tag)
        _finish_swap(sizes_dir, sfolded, base_tag)
        os.unlink(manifest)
        # Bloom sidecar (screen lever #2, docs/SCREEN_SCALING.md):
        # built AFTER the swap publishes the run, from the run's own
        # files, so the bloom covers exactly what screens will read.
        # Best-effort by design — a missing sidecar only costs a
        # scan, and sidecars must never fail a completed fold.  The
        # folded tags' sidecars are dropped UNCONDITIONALLY,
        # INCLUDING a reused base tag's (the runs are gone/rewritten
        # whatever the flag; fingerprint validation would reject a
        # stale one, but each rejection costs an os.walk per batch
        # forever) — the build below then re-publishes the base's.
        from data_ingestion_challenge_spark.streaming import (
            sidecar as _sc,
        )
        _sc.drop_sidecars(postings_dir, list(folded) + [base_tag])
        if bloom_sidecars:
            try:
                _sc.build_run_sidecar(spark, postings_dir, base_tag)
            except Exception as exc:
                import sys
                print(f"admission: bloom sidecar build failed for "
                      f"run {base_tag} (screen degrades to full "
                      f"scan): {exc!r}", file=sys.stderr)

    def _run_rows() -> dict[str, int]:
        return {t: _dir_rows(os.path.join(postings_dir,
                                          f"ingest_batch={t}"))
                for t in _batch_tags(postings_dir) if _is_base(t)}

    if level == "major":
        # Meaningful whenever anything can collapse: ≥1 increment, or
        # ≥2 runs to merge into one.
        if n_inc >= 1 or len(committed) >= 2:
            _fold(committed, "-1")
    else:
        # Stepped merge, PLANNED then executed: the ladder's fixpoint
        # is a pure function of the run-size map (fold row counts are
        # exactly additive — rows(a∪b) = rows(a) + rows(b)), so the
        # whole cascade is simulated on footer row counts first and
        # each TERMINAL group then lands as ONE atomic fold.  The
        # pre-r9 cascade materialized every intermediate run: at the
        # compact_every=2 bench cadence the fresh increments' run
        # immediately re-merged into the next run almost every tick —
        # two full fold I/O cycles (stage 64-dir run + sizes derive +
        # swap, twice) where one suffices.  Crash mid-plan leaves a
        # legal run set exactly as a crash mid-cascade did: folds are
        # individually atomic and the next cadence tick replans from
        # whatever runs exist.  Runs even with n_inc == 0: a crash
        # mid-execution leaves ratio-violating runs that the NEXT
        # call (this one) must still merge.
        runs = _run_rows()
        groups: dict[str, list[str]] = {t: [t] for t in runs}
        if n_inc >= 1:
            nxt = str(min([int(t) for t in runs] or [0]) - 1)
            runs[nxt] = sum(
                _dir_rows(os.path.join(postings_dir,
                                       f"ingest_batch={t}"))
                for t in incs)
            groups[nxt] = list(incs)
        # Simulate until the FULL invariant holds — every run <
        # _MAJOR_RATIO × the next larger, checked across ALL adjacent
        # pairs (only checking the smallest pair would let a
        # violating middle pair accrete runs forever).  Each byte
        # climbs a geometric ladder, so amortized maintenance I/O
        # per ingested byte is O(_MAJOR_RATIO⁻¹ · log(corpus/fold)).
        while len(runs) >= 2:
            order = sorted(runs, key=lambda t: (runs[t], int(t)))
            for a, b in zip(order, order[1:]):
                if runs[a] >= _MAJOR_RATIO * runs[b]:
                    groups[b] = groups.pop(a) + groups[b]
                    runs[b] = runs.pop(a) + runs[b]
                    break
            else:
                break
        # Execute: deepest (most-negative) target first, so a crash
        # part-way leaves the small-run end — the part the next tick
        # re-merges cheaply — unfolded, never a half-merged big run.
        for tgt in sorted(groups, key=int):
            members = groups[tgt]
            if members != [tgt]:
                _fold(sorted(set(members), key=str), tgt)
    return n_inc


def _write_sizes_run(postings: DataFrame, dst: str) -> None:
    """The sizes-run layout contract in ONE place: (doc_id, n) with
    n = the doc's posting count in ``postings``, one file.  Every
    sizes writer (batch increments, fold staging, the screen's heal)
    goes through here so the layout/count rule cannot diverge."""
    (postings.groupBy("doc_id")
     .agg(F.count("*").alias("n"))
     .coalesce(1).write.mode("overwrite").parquet(dst))


def _backfill_sizes(spark: SparkSession, postings_dir: str,
                    sizes_dir: str, tags: set[str]) -> None:
    """The one sizes heal: give each posting tag in ``tags`` — tags
    without a sizes twin (a run older than the sizes store, an
    increment whose sizes write was lost, an orphan increment of a
    lost checkpoint) — its (doc_id, n) partition, recomputed from the
    tag's own postings, staged, then atomically renamed — a crash
    mid-write never publishes a partial (under-covering) partition.
    The explicit-schema read heals a file-less tag to an empty one."""
    import shutil

    sharded = store_shard_col(postings_dir) is not None
    for t in sorted(tags):
        src = os.path.join(postings_dir, f"ingest_batch={t}")
        staged = os.path.join(sizes_dir, _COMPACTING, f"backfill_{t}")
        _write_sizes_run(_read_store(spark, postings_dir, paths=[src],
                                     sharded=sharded, bucketed=True),
                         staged)
        os.rename(staged, os.path.join(sizes_dir, f"ingest_batch={t}"))
    shutil.rmtree(os.path.join(sizes_dir, _COMPACTING),
                  ignore_errors=True)


def _batch_tags(d: str) -> set[str]:
    """Partition-dir tag values under a store dir (empty if absent)."""
    if not os.path.isdir(d):
        return set()
    return {e.name.split("=", 1)[1] for e in os.scandir(d)
            if e.name.startswith("ingest_batch=")}


def store_bucket_mod(postings_dir: str) -> int:
    """The shingle-bucket modulus a posting store was WRITTEN with —
    persisted in `_admission_meta.json` on the store's first write
    (underscore prefix: invisible to Spark's file listing).  The
    modulus is a property of the stored s_bucket values: pruning with
    a different one silently hides corpus shingles (true dups would
    be admitted), so it must never be re-derived from the current
    constant.  A store without a meta is stamped with
    N_SHINGLE_BUCKETS only while it holds no ``ingest_batch=``
    partition: a meta-less store that already has partitions (its
    meta lost, or a pre-bucketing flat store) raises, as does a meta
    that pins no integer modulus — the modulus is unrecoverable, and
    guessing one either mis-prunes or mixes partition depths."""
    meta = os.path.join(postings_dir, _META)
    try:
        with open(meta) as fh:
            stored = json.load(fh)
    except (FileNotFoundError, ValueError):
        stored = {}
    if "s_bucket_mod" in stored:
        if not isinstance(stored["s_bucket_mod"], int):
            raise ValueError(
                f"{postings_dir}: {_META} pins s_bucket_mod="
                f"{stored['s_bucket_mod']!r} — only s_bucket-partitioned "
                f"stores are supported; re-ingest into a fresh store.")
        return stored["s_bucket_mod"]
    if _batch_tags(postings_dir):
        raise ValueError(
            f"{postings_dir}: store has ingest_batch= partitions but "
            f"no {_META} — the s_bucket modulus is unrecoverable "
            f"(pruning with a guessed one silently admits "
            f"duplicates).  Restore the meta file or re-ingest into "
            f"a fresh store.")
    os.makedirs(postings_dir, exist_ok=True)
    # Stamp under the SAME lock _resolve_shard pins shard_col with,
    # and MERGE-update: an unlocked os.replace here raced a concurrent
    # build's shard pin — this builder read the meta as missing, the
    # other pinned shard_col inside the lock, and the replace with a
    # fresh {"s_bucket_mod": ...} dict erased the pin (one store, two
    # writers disagreeing on layout — r16 advice).  Inside the lock
    # the meta is re-read: whoever stamped first wins, keys merge.
    lock = _acquire_admission_lease(postings_dir,
                                    _name=_META + ".stamp",
                                    _wait_live=True, _tries=60)
    try:
        try:
            with open(meta) as fh:
                cur = json.load(fh)
        except (OSError, ValueError):
            cur = {}
        if "s_bucket_mod" not in cur:
            cur["s_bucket_mod"] = N_SHINGLE_BUCKETS
            tmp = meta + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(cur, fh)
            os.replace(tmp, meta)
        return cur["s_bucket_mod"]
    finally:
        release_admission_lease(lock)


def store_shard_col(postings_dir: str) -> str | None:
    """The SOURCE column the store's ``s_shard=`` partition level
    derives from, or None for an unsharded store.  Like the bucket
    modulus, shardedness is a property of the STORED layout — read
    from the persisted meta, never from the caller's argument — so a
    reader can never prune with a shard function the writer didn't
    use."""
    try:
        with open(os.path.join(postings_dir, _META)) as fh:
            return json.load(fh).get("shard_col")
    except (OSError, ValueError):
        return None


def _shard_conflict(postings_dir: str, stored: str,
                    requested: str) -> ValueError:
    return ValueError(
        f"{postings_dir}: store is sharded by {stored!r}; a "
        f"sink requesting shard_col={requested!r} would "
        f"route the same doc's postings to different shards "
        f"across ingests — screens would then prune away "
        f"true duplicates.")


def _resolve_shard(postings_dir: str,
                   shard_col: str | None) -> str | None:
    """Reconcile a sink's requested ``shard_col`` with the store's
    persisted layout at build time, PINNING the layout of a fresh
    store either way.  Rules: the layout is STICKY — a store written
    sharded screens sharded even when the caller omits shard_col
    (the partition depth is on disk), and a store pinned UNSHARDED
    refuses a later sharded sink; a conflicting column name raises;
    sharding an EXISTING unsharded store raises (its runs lack the
    s_shard level — mixed partition depths break Spark's discovery;
    re-ingest or rebuild into a fresh store instead).

    Pinning runs under the generalized lease lock (pid-liveness
    staleness, serialized steal — _acquire_admission_lease with the
    stamp lock name) with the checks RE-RUN inside it.  Two races
    are closed: stamp-vs-stamp (two fresh-store builds must not
    each stamp a different column — last-wins would route one
    store's postings by two keys) and stamp-vs-unsharded (a
    shard_col=None build on a fresh store PINS ``shard_col: null``,
    so a concurrent sharded build sees the pin and raises instead
    of creating mixed partition depths)."""
    _UNSET = object()

    def _pinned():
        try:
            with open(os.path.join(postings_dir, _META)) as fh:
                return json.load(fh).get("shard_col", _UNSET)
        except (OSError, ValueError):
            return _UNSET

    def _check(stored):
        """Stored pin vs request; returns the resolved column."""
        if stored is None and shard_col is not None:
            raise ValueError(
                f"{postings_dir}: cannot shard an existing unsharded "
                f"store — its runs lack the s_shard partition level "
                f"and mixed depths break partition discovery.  Start "
                f"a fresh store (or fold this one into it) instead.")
        if (stored is not None and shard_col is not None
                and shard_col != stored):
            raise _shard_conflict(postings_dir, stored, shard_col)
        return stored

    store_bucket_mod(postings_dir)  # stamps meta if absent
    stored = _pinned()
    if stored is not _UNSET:
        return _check(stored)
    # Legacy/unpinned meta: a store that already has runs is
    # definitionally unsharded (a meta-less sharded store raises in
    # store_bucket_mod) — pinning records reality; a fresh store
    # pins the caller's choice.  Either way the write is serialized.
    lock = _acquire_admission_lease(postings_dir,
                                    _name=_META + ".stamp",
                                    _wait_live=True, _tries=60)
    try:
        stored = _pinned()
        if stored is not _UNSET:  # lost the race: validate the pin
            return _check(stored)
        pin = shard_col
        if _batch_tags(postings_dir):
            _check(None)  # raises for a sharded request
            pin = None
        meta_path = os.path.join(postings_dir, _META)
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["shard_col"] = pin
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)
        return pin
    finally:
        release_admission_lease(lock)


def _collapse_exact(batch: DataFrame) -> DataFrame:
    """Exact dedup INSIDE one batch: collapse repeated doc_ids
    (transport redelivery) deterministically, then keep the min
    doc_id of every exact-text-hash group."""
    wid = Window.partitionBy("doc_id").orderBy(F.md5(col("text")))
    batch = (batch.withColumn("_r", F.row_number().over(wid))
             .where(col("_r") == 1).drop("_r"))
    w = Window.partitionBy(F.md5(col("text"))).orderBy("doc_id")
    return (batch.withColumn("_r", F.row_number().over(w))
            .where(col("_r") == 1).drop("_r"))


def document_admission_sink(spark: SparkSession, table_path: str,
                            postings_dir: str, log_dir: str,
                            sizes_dir: str,
                            n_buckets: int = 32, n: int = 3,
                            tau: float = 0.8,
                            run_id: str | None = None,
                            compact_every: int | None = None,
                            commit_mode: str = "append",
                            bloom_sidecars: bool = True,
                            shard_col: str | None = None):
    """Build the foreachBatch admission callback.  Returns
    (admit_fn, table): admit_fn(batch_df, batch_id) runs one
    micro-batch through screen→commit→maintain; `table` is the
    transactional corpus TxnTable (created empty if absent).

    Posting increments are partitioned by ``s_bucket``
    (pmod(hash(s), mod) with the modulus pinned in the store's meta —
    N_SHINGLE_BUCKETS for a fresh store) so the screen's corpus reads
    prune to the batch's shingle buckets.  ``sizes_dir`` is the
    per-doc shingle-count store maintained next to the postings (one
    ``ingest_batch=<tag>`` partition of (doc_id, n) per posting tag):
    the screen reads every corpus |B| from it, so NO stage of the
    screen reads the full posting store.

    ``run_id`` scopes batch ids to one checkpoint lifetime: micro-batch
    ids restart at 0 whenever a stream gets a fresh checkpoint dir, so
    without the scope a restarted stream's batches would compare ≤ the
    old run's last_txn mark and be skipped whole — silently discarding
    genuinely new documents — and their maintenance partitions would
    overwrite the old run's.  run_document_admission derives it from a
    marker persisted in the checkpoint dir; direct callers that manage
    their own batch-id monotonicity may leave it None.

    Each batch runs with spark.sql.adaptive.enabled scoped OFF: AQE
    re-plans every one of the ~25 batch-bounded shuffle stages per
    micro-batch, measured as a 2.3× end-to-end overhead at bench
    scale for no benefit.  spark.conf is SESSION-scoped, so run the
    admission driver on its own SparkSession.

    ``compact_every`` auto-folds the posting store (and sizes store)
    whenever the number of per-batch increments reaches it, via
    compact_store_in_place — the maintenance cadence a long-lived
    stream needs so corpus reads stop accreting one file per
    historical micro-batch.  The fold runs after the batch's commit
    and relies on the admission lease for exclusivity:
    run_document_admission holds it across the drain; direct sink
    callers passing compact_every must do the same.

    ``commit_mode`` selects the corpus-table commit path:
    ``"append"`` (the default since r10) commits via
    TxnTable.append_run — O(batch) unconditionally, reads resolve
    latest-wins per key (a re-ingested id's newer text shadows the
    old row, exactly MERGE's outcome); ``"merge"`` is the
    copy-on-write MERGE — O(touched buckets) per batch, i.e.
    O(corpus) once batches hash across all buckets, kept for
    callers that want a windowless table without a compaction
    cadence.  Append mode accretes one run per batch; when
    ``compact_every`` is set, the sink folds them up the stepped
    ladder (``table.compact_runs(level="auto")``) on the same
    cadence as the posting store — bucket-rewrite table ops work
    over live runs either way (run-aware reads since r10,
    docs/TXN_RUNS_DESIGN.md).

    ``bloom_sidecars`` (default True) enables screen lever #2
    (docs/SCREEN_SCALING.md, streaming/sidecar.py): folds write
    per-run per-bucket bloom sidecars, and the screen's corpus read
    skips every (run, bucket) partition whose bloom proves it holds
    no batch shingle — converting the linear-in-store screen scan
    into one proportional to the batch's corpus-OVERLAPPING
    partitions.  Verdict-identical by construction (a bloom has no
    false negatives; a missing/corrupt/stale sidecar degrades to the
    full scan of that run); pass False to A/B the unassisted
    screen.

    ``shard_col`` (screen lever #1, docs/SCREEN_SCALING.md) names a
    BATCH COLUMN (e.g. ``source``) whose value routes each doc's
    postings to an outer ``s_shard=`` partition level above
    ``s_bucket=``; the screen then prunes its corpus read to the
    batch's shard values plus the reserved GLOBAL shard, so scanned
    corpus rows scale with the batch's shard fraction REGARDLESS of
    shingle overlap — the lever for high-overlap batches, where
    blooms by design skip nothing.  Cross-shard policy: a NULL shard
    value routes to the global shard, which every screen scans
    unconditionally.  SEMANTIC CONTRACT (unlike blooms, this lever
    is not verdict-free): the screen only sees corpus near-dups that
    share the batch doc's shard value or live in the global shard —
    choose a key near-dups overwhelmingly share (source/host/time
    window in crawl corpora) and route unknown provenance to NULL;
    the full cross-shard dedup sweep stays a batch job
    (sweep_cross_shard_dups over the unpruned store).  The layout
    is STICKY store meta: a sharded store screens sharded even when
    a later sink omits the argument, a conflicting column raises,
    and an existing unsharded store refuses to convert in place."""
    if commit_mode not in ("merge", "append"):
        raise ValueError(
            f"commit_mode must be merge|append, got {commit_mode!r}")
    from data_ingestion_challenge_spark.txn import TxnTable

    # Heal any crashed compaction swap BEFORE the first screen can
    # read the store: a published-but-unfinished manifest means the
    # store may transiently miss (or double-count) folded postings.
    recover_compaction(postings_dir, sizes_dir)

    # Reconcile the requested shard layout with the store's persisted
    # one (sticky; conflicts raise; stamps a fresh store) — ONCE at
    # build time, like the recovery above.
    shard_src = _resolve_shard(postings_dir, shard_col)

    # checkpoint_every: one commit per micro-batch means the log
    # grows with stream lifetime; the cadence keeps the per-batch
    # snapshot/last_txn replay O(16) instead of O(batches).
    table = TxnTable(spark, table_path, key="doc_id",
                     n_buckets=n_buckets, checkpoint_every=16)
    if table.version() == 0:
        table = TxnTable.create(
            spark, table_path, spark.createDataFrame([], DOCS_SCHEMA),
            key="doc_id", n_buckets=n_buckets)
        table.checkpoint_every = 16

    app = _APP if run_id is None else f"{_APP}:{run_id}"

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        tag = str(batch_id) if run_id is None \
            else f"{run_id}-{batch_id}"
        if batch_id <= table.last_txn(app):
            return  # crash-replayed batch: already committed whole
        _AQE = "spark.sql.adaptive.enabled"
        prev_aqe = spark.conf.get(_AQE, "true")
        spark.conf.set(_AQE, "false")
        try:
            _admit_body(batch_df, batch_id, tag)
            if compact_every:
                # Count COMMITTED increments — the same rule the fold
                # applies — so the cadence is honored exactly and a
                # crashed run's orphan tag (never committed, never
                # folded) cannot inflate the trigger into permanent
                # per-batch no-op compaction calls.
                marks = table.txn_marks()
                n_inc = sum(1 for t in _batch_tags(postings_dir)
                            if not _is_base(t)
                            and _tag_committed(marks, t))
                if n_inc >= compact_every:
                    # auto = stepped merge: increments fold into a
                    # fresh small run, runs merge up a geometric
                    # size ladder — maintenance I/O per ingested
                    # byte is O(log corpus), never O(corpus) per
                    # cadence tick.
                    compact_store_in_place(spark, postings_dir,
                                           table, sizes_dir=sizes_dir,
                                           level="auto",
                                           bloom_sidecars=bloom_sidecars)
                    if (commit_mode == "append"
                            and table.run_generations() >= 3):
                        # The corpus table's run ladder folds on the
                        # same cadence (append mode accretes one run
                        # per batch exactly as the posting store
                        # accretes one increment); same stepped
                        # bound, same lease-based exclusivity.  The
                        # ≥3-generation gate keeps a two-run window
                        # (already cheap to read) from paying a fold
                        # every tick — the ladder's amortized bound
                        # is unchanged, the fixed per-tick cost
                        # drops.  Guarded like checkpoint() on the
                        # same path: the batch's commit has already
                        # landed, so a fold failure (e.g. a
                        # CommitConflictError from a concurrent
                        # writer) must not fail the micro-batch —
                        # maintenance never fails a commit; the next
                        # cadence tick retries the fold.
                        try:
                            table.compact_runs(level="auto")
                        except Exception as exc:
                            # Swallow (the commit already landed),
                            # but AUDIBLY: a persistently failing
                            # fold would otherwise unbound the run
                            # ladder with zero operator signal.
                            import sys
                            print(f"admission: corpus run fold "
                                  f"failed (will retry next "
                                  f"cadence): {exc!r}",
                                  file=sys.stderr)
        finally:
            spark.conf.set(_AQE, prev_aqe)

    def _admit_body(batch_df: DataFrame, batch_id: int,
                    tag: str) -> None:
        # The store's bucket modulus is read from its persisted meta,
        # NOT the current constant — a raised N_SHINGLE_BUCKETS must
        # never mis-prune an existing store.
        mod = store_bucket_mod(postings_dir)
        # Phase labels (guide §1.5): thread-local, so the threaded
        # maintenance writes label their own jobs below; purely
        # observational — the r17 job-level drain profile needed
        # REST-API archaeology to attribute the per-batch jobs.
        sc = spark.sparkContext
        sc.setJobDescription(f"admission b{batch_id}: batch checkpoint")
        batch = batch_df.localCheckpoint()
        exact = _collapse_exact(batch)
        # Shard routing (lever #1): one per-doc (doc_id, s_shard) map
        # drives BOTH the increment write and the corpus pruning, so
        # a doc's postings always land in the shard its screens scan.
        # NULL → the reserved global shard (always scanned).
        doc_shard = None
        if shard_src is not None:
            if shard_src not in batch.columns:
                raise ValueError(
                    f"admission: shard column {shard_src!r} (store "
                    f"meta) is not in the batch schema "
                    f"{batch.columns} — every ingested batch must "
                    f"carry the store's shard key")
            # NULL → global, and ALSO every string value that cannot
            # round-trip through a partition DIRECTORY (probed
            # empirically, pinned by tests/test_shard_sink.py):
            # "" and the literal __HIVE_DEFAULT_PARTITION__ are both
            # read back as NULL (the fail-closed isin prune would
            # then hide those postings from every future screen —
            # true dups admitted silently); control characters FAIL
            # the parquet write outright (would fail the
            # micro-batch); long values overflow the 255-byte
            # dirname limit once %-escaped (worst case 3 dirname
            # bytes per value byte → cap value at 80 utf-8 bytes so
            # 8+240 ≤ 255).  All of them route to the always-scanned
            # global shard: correctness preserved, pruning forgone.
            # __mixed__ joins the reserved set (r18): it names the
            # increment partition level, and a doc carrying it as a
            # REAL value would, after a fold re-derives shard dirs
            # from doc_shard, live under a base s_shard=__mixed__ dir
            # whose rows the screen's mixed-row data filter (keyed on
            # a doc_shard column base files don't carry) would hide —
            # true dups admitted.  Routing it global is the same
            # conservative degrade as the other unrepresentables.
            src = col(shard_src).cast("string")
            unrep = (src.isNull() | (src == "")
                     | (src == "__HIVE_DEFAULT_PARTITION__")
                     | (src == MIXED_SHARD)
                     | (F.octet_length(src) > 80)
                     | src.rlike("[\\x00-\\x1F\\x7F]"))
            doc_shard = exact.select(
                "doc_id",
                F.when(unrep, F.lit(GLOBAL_SHARD))
                .otherwise(src).alias(SHARD_COL))
        # Batch postings built ONCE (persisted): the fused screen,
        # the posting/sizes maintenance writes, and the batch-bucket
        # collect all read this same cache.
        new_post = _postings(exact, n)
        handles = [new_post]
        batch_sizes = new_post.groupBy("doc_id").agg(
            F.count("*").alias("n"))
        # ONE store listing per batch: the corpus check, the sidecar
        # loop, and the sizes-coverage check all read this same set
        # (three scandirs per batch otherwise, plus a needless window
        # where the listings could disagree under the lease).  This
        # batch's own tag is never corpus: the replay of a first-ever
        # batch that crashed after its posting write finds only its
        # own tag and screens against no corpus at all.
        corpus_tags = _batch_tags(postings_dir) - {tag}
        corpus_posting = corpus_sizes = None
        if corpus_tags:
            sc.setJobDescription(
                f"admission b{batch_id}: corpus prune probes")
            # basePath surfaces the ingest_batch partition column;
            # excluding THIS batch's partition makes the screen
            # replay-safe — a crash between the posting write and the
            # txn commit must not let the batch's own postings
            # self-match its survivors on the rerun (they would all
            # flag as dups of themselves and be lost).
            # ingest_batch is string-typed by _read_store's explicit
            # schema (r17) — run-scoped tags and bare ids compare as
            # the exact dir string, no inference, no casts.  Sharded
            # stores read WITH the doc_shard data column (NULL on
            # run files, which predate it or dropped it at fold):
            # mixed increments carry their true shard there and the
            # prune below applies the shard predicate to them as a
            # data filter.
            raw = (_read_store(spark, postings_dir,
                               data_schema="doc_id long, s string"
                                           + (", doc_shard string"
                                              if shard_src is not None
                                              else ""),
                               sharded=shard_src is not None,
                               bucketed=True)
                   .where(col("ingest_batch") != F.lit(tag)))
            # Bloom-sidecar skip (screen lever #2): a compacted run
            # with a VALID sidecar gets a DROP predicate for the
            # (run, bucket) partitions whose blooms prove no batch
            # shingle can live there — zero contribution to `rel`,
            # so dropping is value-identical (see
            # streaming/sidecar.py for the full safety argument).
            # FAIL-OPEN by construction: only explicit proven-miss
            # pairs are subtracted, so a run the predicate fails to
            # match (no/corrupt/stale sidecar, builds disabled, even
            # a tag whose directory string and Spark-unescaped
            # partition value disagree) is simply scanned — an
            # allowlist here would silently drop such runs and admit
            # true duplicates.  All skipping rides partition-column
            # predicates, so it composes with the batch-bucket
            # pruning below inside the same PartitionFilters — the
            # corpus side is still scanned exactly once and never
            # shuffled.
            scs = {}
            if bloom_sidecars:
                from data_ingestion_challenge_spark.streaming import (
                    sidecar as _sc,
                )
                for t in corpus_tags:
                    loaded = _sc.load_run_sidecar(postings_dir, t)
                    if loaded is not None:
                        scs[t] = loaded
            ib = col("ingest_batch")
            drop_pred = None
            buckets: list | None = None
            if scs:
                import numpy as np

                from data_ingestion_challenge_spark.streaming.sidecar \
                    import _as_u64, hit_buckets
                # Batch shingle hashes, hashed BY SPARK (the sidecar
                # build hashes with the same engine, so a bloom miss
                # is exact).  Batch-bounded collect off the persisted
                # batch postings — the same frame the broadcast
                # semi-join ships anyway.
                hrows = (new_post.select(F.xxhash64("s").alias("h1"),
                                         F.hash("s").alias("h2"))
                         .distinct().toPandas())
                h1u, h2u = _as_u64(hrows["h1"]), _as_u64(hrows["h2"])
                h2i = np.asarray(hrows["h2"], dtype=np.int64)
                bucket_of = (h2i % mod + mod) % mod
                buckets = sorted(int(b) for b in np.unique(bucket_of))
                for t, blooms in scs.items():
                    hb = hit_buckets(blooms, h1u, h2u, bucket_of)
                    # drop the run everywhere EXCEPT its hit buckets
                    # (a bucket absent from the sidecar held no
                    # shingles at build time → droppable)
                    miss = ((ib == t)
                            & ~col("s_bucket").isin(sorted(hb))
                            if hb else (ib == t))
                    drop_pred = (miss if drop_pred is None
                                 else drop_pred | miss)
            filtered = raw
            if shard_src is not None and SHARD_COL in raw.columns:
                # Shard pruning (lever #1): corpus near-dups are only
                # sought in the batch's own shards plus the global
                # shard — the documented semantic contract of
                # shard_col.  Bounded collect: ≤ distinct shard
                # values in the batch.  Applied in TWO pieces that
                # TOGETHER express the one predicate
                # ``effective_shard ∈ batch_shards ∪ {global}``:
                # a partition-column isin (PartitionFilters — prunes
                # compacted-run dirs exactly as before, plus the
                # __mixed__ increment level, always scanned), and a
                # data filter on doc_shard for mixed increment rows
                # (their true shard is the data column — r18 layout;
                # kept as a SEPARATE conjunct on the raw partition
                # column so the dir prune still pushes down).
                # Verdict-identical: a row passes iff its effective
                # shard is in the batch set, same as the pre-r18
                # all-dirs prune.  Corpus SIZES stay
                # unsharded/unpruned (the sizes store): a doc's
                # sizes row is only consulted via candidates, and
                # candidates only arise from scanned rows.
                batch_shards = sorted(
                    {str(r[0]) for r in doc_shard.select(SHARD_COL)
                     .distinct().collect()} | {GLOBAL_SHARD})
                filtered = filtered.where(
                    col(SHARD_COL).isin(batch_shards + [MIXED_SHARD])
                    & ((col(SHARD_COL) != MIXED_SHARD)
                       | F.coalesce(col(DOC_SHARD),
                                    F.lit(GLOBAL_SHARD))
                       .isin(batch_shards)))
            # Shingle-bucket pruning (PartitionFilters): all corpus
            # occurrences of any batch shingle live in the batch's
            # buckets; other shingles can never join.  Bounded
            # collect: ≤ mod ids (derived locally from the
            # already-collected hashes when sidecars ran — s_bucket IS
            # pmod(hash(s), mod)).
            if buckets is None:
                buckets = [r[0] for r in new_post.select(
                    F.pmod(F.hash("s"), F.lit(mod)).alias("b"))
                    .distinct().collect()]
            filtered = filtered.where(col("s_bucket").isin(buckets))
            if drop_pred is not None:
                filtered = filtered.where(~drop_pred)
            corpus_posting = filtered.select("doc_id", "s")
            # Corpus sizes are FULL per-doc counts from the sizes
            # store (a pruned posting aggregate would undercount |B|
            # and inflate jaccard).  The size join is what ratifies a
            # candidate, so a corpus tag without a sizes twin would
            # hide its docs as dup targets: heal those tags first.
            missing = corpus_tags - _batch_tags(sizes_dir)
            if missing:
                sc.setJobDescription(
                    f"admission b{batch_id}: heal corpus sizes")
                _backfill_sizes(spark, postings_dir, sizes_dir, missing)
            # Sizes are NEVER pruned by the bloom skip — not even
            # for fully-dropped runs.  The r15 spelling dropped a
            # fully-missed run's sizes partition, reasoning its
            # docs can't become candidates; that silently assumed
            # a doc's postings live in exactly one run, which
            # RE-INGESTED doc_ids violate (changed content below
            # τ re-admits the same id: old postings+sizes stay in
            # the original run, new rows land in a later one,
            # until a fold merges them).  If only the NEW run
            # overlaps the batch, the old run is fully dropped —
            # but the ratify join on doc_id must still see BOTH n
            # values to stay bit-identical with the unassisted
            # screen (the smaller old n can cross τ alone).  The
            # sizes read is one row per doc per run — orders
            # below the posting scan the blooms actually skip —
            # so the sound read costs ~nothing.
            corpus_sizes = (_read_store(
                spark, sizes_dir, data_schema="doc_id long, n long")
                .where(col("ingest_batch") != F.lit(tag))
                .select("doc_id", "n"))
        # ONE fused candidate+verify pass for both screens; the pair
        # table is near-dup-sized — pin it, every downstream frame
        # (drop set, verdict, log) is then a cheap join of caches.
        pairs = _screen_pairs(new_post, batch_sizes, corpus_posting,
                              corpus_sizes, tau, caches=handles)
        sc.setJobDescription(f"admission b{batch_id}: screen ratify")
        pairs = pairs.localCheckpoint()
        # In-batch rule: drop the LARGER doc of every batch-batch
        # pair.  Kept docs are pairwise non-near-dup (if two kept
        # docs were a pair, the larger would have been dropped); docs
        # linked only through a dropped middleman both stay —
        # deliberately more conservative than a full
        # connected-components collapse.
        drop = (pairs.where(~col("_corp"))
                .select(F.greatest("doc_id", "corpus_doc_id")
                        .alias("doc_id")).distinct())
        survivors = exact.join(drop, "doc_id", "left_anti")
        # Corpus verdict for SURVIVORS only (a doc dropped in-batch
        # is logged with its in-batch witness, dup_of NULL): the one
        # best-match rule, shared with the registered
        # incremental_dedup_verdict query.
        best = _best_corpus_match(pairs)
        verdict = (survivors.select("doc_id")
                   .join(best, "doc_id", "left")
                   .select("doc_id",
                           col("dup_of").isNotNull().alias("is_dup"),
                           "dup_of", "jaccard"))
        # ONE materialization for the batch's terminal frames: a
        # survivor with a corpus best-match is a dup, so admitted =
        # exact − in-batch drops − docs with any corpus match.  (The
        # pre-r9 body also checkpointed `survivors` — a separate
        # Spark job whose only extra value was caching two window
        # stages the log write re-derives from caches anyway.)
        sc.setJobDescription(f"admission b{batch_id}: admitted set")
        admitted = (survivors
                    .join(best.select("doc_id"), "doc_id", "left_anti")
                    .localCheckpoint())
        log = (batch.select("doc_id").distinct()
               .join(verdict, "doc_id", "left")
               .withColumn("kept", F.coalesce(~col("is_dup"),
                                              F.lit(False)))
               .select("doc_id", "kept", "dup_of", "jaccard"))
        # Maintenance writes (log, postings, sizes) are mutually
        # independent and ALL precede the txn commit: if we crash
        # between any of them and the commit, the replay overwrites
        # the same per-batch dirs (no duplicate rows) and then
        # commits — never a committed doc without postings, so no
        # admitted dup can slip past a crash.  They run CONCURRENTLY
        # (independent Spark jobs over already-cached frames; the
        # executor has idle cores at micro-batch size), and the txn
        # merge's snapshot-read + staging OVERLAPS them: merge_into's
        # _pre_claim barrier joins every write future — with failures
        # re-raised — before the claim, so the write-before-commit
        # invariant is unchanged while its latency hides behind the
        # merge's own read/stage work.
        # Admitted docs' postings are a filter of the already-built
        # batch postings — no recompute.  A batch with nothing to
        # admit (or only sub-n-gram docs) writes NO partition: a
        # partitionBy write of an empty frame leaves a file-less dir
        # that breaks schema inference for every later read; the
        # emptiness probe runs INSIDE the postings thread so its job
        # hides behind the log write instead of serializing before
        # the pool.
        from concurrent.futures import ThreadPoolExecutor

        adm_post = handles[0].join(admitted.select("doc_id"),
                                   "doc_id", "left_semi")
        if doc_shard is not None:
            # 1:1 on doc_id (exact is doc-unique), so posting rows
            # and the sizes groupBy are unchanged — the join only
            # pins each admitted doc's shard onto its posting rows
            # for the partitioned write below.  The shard rides the
            # DOC_SHARD data column under the single reserved
            # __mixed__ partition value (r18): the increment write
            # then fans out to one file per s_bucket — the same
            # file count as the unsharded drain — instead of one per
            # non-empty (shard, bucket) cell, the 1.3-1.8× drain
            # cost measured in r16.  The fold re-derives the real
            # shard dirs from doc_shard (_read_store_resolved); the
            # screen applies the identical shard predicate to mixed
            # rows as a data filter.
            adm_post = (adm_post.join(doc_shard, "doc_id")
                        .withColumnRenamed(SHARD_COL, DOC_SHARD)
                        .withColumn(SHARD_COL, F.lit(MIXED_SHARD)))

        def _write_log():
            # One file: the per-batch log is verdict-row-sized, and
            # a long-lived store otherwise accretes
            # shuffle-partition-many tiny files per batch.
            sc.setJobDescription(f"admission b{batch_id}: write log")
            log.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(log_dir, f"ingest_batch={tag}"))

        def _write_postings():
            # Shared layout contract (_write_postings_layout):
            # repartition ON the bucket first — a direct partitionBy
            # write splits every task's rows across all `mod` bucket
            # dirs (tasks × mod tiny files per batch — measured 1026
            # files and 5 s per batch at bench scale).  Increments
            # skip the secondary s-sort (batch-sized; the compacted
            # base restores the clustering).
            sc.setJobDescription(
                f"admission b{batch_id}: write postings")
            _write_postings_layout(
                adm_post,
                os.path.join(postings_dir, f"ingest_batch={tag}"),
                mod, sort=False,
                shard_col=SHARD_COL if doc_shard is not None
                else None)

        def _write_sizes():
            sc.setJobDescription(f"admission b{batch_id}: write sizes")
            _write_sizes_run(adm_post, os.path.join(
                sizes_dir, f"ingest_batch={tag}"))

        def _write_postings_and_sizes():
            if adm_post.isEmpty():
                return
            with ThreadPoolExecutor(max_workers=1) as sub:
                fs = sub.submit(_write_sizes)
                _write_postings()
                fs.result()

        pool = ThreadPoolExecutor(max_workers=2)
        try:
            futures = [pool.submit(_write_log),
                       pool.submit(_write_postings_and_sizes)]

            def _writes_done():
                for fut in futures:
                    fut.result()  # re-raise before the claim

            # _source_unique: admitted flows out of the keep-first-
            # per-doc_id exact-dedup window — uniqueness is
            # structural.
            commit = (table.append_run if commit_mode == "append"
                      else table.merge_into)
            sc.setJobDescription(f"admission b{batch_id}: txn commit")
            commit(admitted,
                   _txn={"app": app, "batch_id": batch_id},
                   _source_unique=True,
                   _pre_claim=_writes_done)
            # An all-dup batch admits nothing: merge_into returns
            # before its claim and the barrier never ran — join the
            # futures here too (idempotent) so a failed maintenance
            # write still fails the batch instead of vanishing.
            for fut in futures:
                fut.result()
        finally:
            pool.shutdown(wait=True)
            sc.setJobDescription(None)
        # All derived frames are materialized (log/postings written,
        # admitted checkpointed, commit done): release the per-batch
        # posting caches — a long-running stream must not accumulate
        # one per micro-batch.
        for h in handles:
            h.unpersist()

    return admit, table


def run_document_admission(spark: SparkSession, watch_dir: str,
                           table_path: str, postings_dir: str,
                           log_dir: str, checkpoint: str,
                           sizes_dir: str,
                           n_buckets: int = 32, n: int = 3,
                           tau: float = 0.8,
                           compact_every: int | None = None,
                           commit_mode: str = "append",
                           max_files_per_trigger: int = 64,
                           shard_col: str | None = None):
    """Drain jsonl document drops from watch_dir through the admission
    sink (availableNow; re-call to pick up new drops).  Returns the
    corpus TxnTable.

    ``max_files_per_trigger`` sizes the micro-batches a backlog
    drains in: each trigger coalesces up to that many queued drop
    files into ONE screen+commit pass.  The admission pipeline's
    per-batch cost is dominated by a FIXED floor (~20 scheduled
    batch-sized jobs: screen stages, maintenance writes, the commit)
    that is independent of batch size, so a consumer that has fallen
    behind should batch its backlog — raising this is nearly free
    latency-wise for a bounded drain and multiplies throughput.  The
    verdict semantics stay correct under ANY batching (a dup pair
    split across batches resolves by the corpus rule, within one
    batch by the in-batch rule; exactly one of the pair is dropped
    either way); per-row dedup verdicts for pairs near the batch
    boundary can differ in WHICH rule labeled them, exactly as any
    streaming consumer's batching does.

    Batch ids are scoped to the checkpoint's lifetime via a marker
    persisted inside the checkpoint dir: a FRESH checkpoint (ids
    restart at 0) gets a fresh scope, so its batches are re-screened
    against the corpus instead of being skipped by the previous run's
    replay gate — previously-admitted docs simply re-reject as
    corpus dups; never-seen docs still admit."""
    import uuid

    os.makedirs(checkpoint, exist_ok=True)
    marker = os.path.join(checkpoint, "__admission_run_id")

    def _read_marker() -> str:
        try:
            with open(marker) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return ""

    run_id = _read_marker()
    if not run_id:
        # Atomic publish (tmp + replace): a crash during creation must
        # not leave an EMPTY marker — two checkpoints sharing the ''
        # scope would collide on batch ids, resurrecting exactly the
        # skipped-batch data loss the scope exists to prevent.
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex[:12])
        os.replace(tmp, marker)
        run_id = _read_marker()

    # The lease spans the whole drain: screening is the part that is
    # not serializable across concurrent streams (see
    # _acquire_admission_lease) — a second run_document_admission on
    # the same posting store raises instead of double-admitting.
    lease = _acquire_admission_lease(postings_dir)
    try:
        admit, table = document_admission_sink(
            spark, table_path, postings_dir, log_dir,
            n_buckets=n_buckets, n=n, tau=tau, sizes_dir=sizes_dir,
            run_id=run_id,
            compact_every=compact_every, commit_mode=commit_mode,
            shard_col=shard_col)
        q = (spark.readStream.schema(DOCS_SCHEMA)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .json(watch_dir)
             .writeStream.foreachBatch(admit)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        release_admission_lease(lease)
    return table


def sweep_cross_shard_dups(spark: SparkSession, postings_dir: str,
                           tau: float = 0.8,
                           table_path: str | None = None
                           ) -> DataFrame:
    """The BATCH job the sharded screen's contract defers to: find
    admitted near-dup pairs no incremental screen saw.  Reported:
    pairs whose shard sets are DISJOINT (when the later member was
    screened, the earlier one's postings lived only in unscanned
    shards — including pairs whose LATER member is global: its
    screen scanned global + its own shards, not the partner's), plus
    — FAIL-OPEN — any ≥τ pair involving a MULTI-shard doc (a doc
    re-ingested under a changed shard value; its union shard set can
    overlap a partner's even though no single screening ever saw the
    pair, so a disjointness-only filter would silently drop a
    missed duplicate).  The over-report is bounded by re-ingestion
    frequency and the consumer verifies pairs anyway.  Returns
    (doc_a, doc_b, jaccard, shards_a, shards_b); feed the verdicts
    to dedup_keep_list-style pruning or use them to pick a better
    shard key.

    Semantics notes: pairs come from the store's OWN postings via
    the PPJoin inverted index (operators/dedup.ngram_jaccard_pairs —
    sub-quadratic, df-capped prefixes, exact verify), so a
    re-ingested doc_id's shingle set is the UNION of its runs'
    postings, and its shard set is every shard it was ever routed
    to.  With ``table_path`` the sweep restricts to COMMITTED docs
    (crashed batches' orphan postings are excluded).

    Runs under the admission lease like every non-sink store reader
    (heals a crashed swap first; raises ConcurrentAdmissionError
    while a drain is live); results are materialized before release
    so a later fold cannot swap directories mid-scan.  Refuses an
    unsharded store — there the incremental screen already sees
    every pair, and the full audit is dedup_ngram_jaccard."""
    if store_shard_col(postings_dir) is None:
        raise ValueError(
            f"{postings_dir}: store is not sharded — the incremental "
            f"screen already sees every pair; run the "
            f"dedup_ngram_jaccard audit instead.")
    _OUT_SCHEMA = ("doc_a long, doc_b long, jaccard double, "
                   "shards_a array<string>, shards_b array<string>")
    lease = _acquire_admission_lease(postings_dir)
    try:
        recover_compaction(postings_dir)
        if not _batch_tags(postings_dir):
            # Run-less store (pinned sharded in meta but nothing
            # committed yet, or every run folded away mid-crash): a
            # bare parquet read would raise "unable to infer schema"
            # — an empty store trivially has no missed pairs (r16
            # advice).
            return spark.createDataFrame([], _OUT_SCHEMA)
        # Explicit schema (_read_store): shard values must round-trip
        # exactly — inference would report a leading-zero shard
        # ('0123') as '123' in the pair output, and an all-numeric
        # shard column would break the string collect_set below.
        # RESOLVED read (r18): a doc whose postings still sit in a
        # mixed increment contributes its doc_shard value to the
        # shard set, identical to the pre-r18 dir value.
        store = _read_store_resolved(spark, postings_dir, sharded=True)
        if table_path is not None:
            from data_ingestion_challenge_spark.txn import TxnTable
            committed = (TxnTable(spark, table_path, key="doc_id")
                         .read().select("doc_id"))
            store = store.join(committed, "doc_id", "left_semi")
        # Materialize the store scan ONCE: ngram_jaccard_pairs
        # references its posting frame several times (df/window,
        # candidate join, sizes, verify) and the shard map reads it
        # again — uncached, one sweep would pay ~5 full store scans.
        post = (store.select("doc_id", "s").distinct()
                .localCheckpoint())
        # collect_set dedups map-side in its partial aggregate — a
        # distinct() here would be a second full shuffle for nothing
        shards = (store.select("doc_id",
                               col(SHARD_COL).alias("_sh"))
                  .groupBy("doc_id")
                  .agg(F.collect_set("_sh").alias("shards"))
                  .localCheckpoint())
        pairs = ngram_jaccard_pairs(None, tau=tau, posting=post)
        unseen = ((F.size(F.array_intersect("shards_a",
                                            "shards_b")) == 0)
                  | (F.size("shards_a") > 1)
                  | (F.size("shards_b") > 1))
        out = (pairs
               .join(shards.select(col("doc_id").alias("doc_a"),
                                   col("shards").alias("shards_a")),
                     "doc_a")
               .join(shards.select(col("doc_id").alias("doc_b"),
                                   col("shards").alias("shards_b")),
                     "doc_b")
               .where(unseen)
               .select("doc_a", "doc_b", "jaccard",
                       F.array_sort("shards_a").alias("shards_a"),
                       F.array_sort("shards_b").alias("shards_b"))
               .localCheckpoint())
        post.unpersist()
        shards.unpersist()
        return out
    finally:
        release_admission_lease(lease)


def admission_e2e_oracle_sql(n_batches: int = 3, n: int = 3,
                             tau: float = 0.8) -> str:
    """DuckDB twin of the WHOLE admission pipeline run sequentially
    over ``doc_id % n_batches`` batches of the documents table — the
    oracle for the registered ``streaming_admission_e2e`` query, which
    drives the real sink (exact collapse → fused near-dup screen →
    txn commit → posting maintenance → in-place auto-compaction
    between batches) and returns the admission log.

    The replay is pure set algebra over ONE undirected jaccard-pair
    table (raw-ratio ≥ τ filter, rounded report — exactly
    _screen_pairs' contract): per batch, exact survivors keep the
    lowest doc_id per text; the in-batch rule drops the HIGHER id of
    every survivor pair; corpus dups are survivors with any pair into
    the accumulated admitted set, best match = highest rounded
    jaccard then lowest corpus id.  Because the oracle never sees the
    posting store, a compaction bug that changed ANY verdict would
    hash-mismatch this query."""
    shingle = (f"list_transform(range(1, greatest(len(w) - {n - 2},"
               f" 1)), i -> array_to_string(w[i:i+{n - 1}], ' '))")
    parts = [f"""
    d AS (SELECT doc_id, text, string_split(text, ' ') AS w
          FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({shingle})) AS s
           FROM d),
    sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS lo, b.doc_id AS hi, count(*) AS ic
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id),
    pairs AS (SELECT lo, hi,
                     round(ic / (sa.nsh + sb.nsh - ic), 4) AS jaccard
              FROM pr
              JOIN sz sa ON sa.doc_id = pr.lo
              JOIN sz sb ON sb.doc_id = pr.hi
              WHERE ic / (sa.nsh + sb.nsh - ic) >= {tau})"""]
    corpus_union = "SELECT doc_id FROM a0"
    for b in range(n_batches):
        corpus = f"c{b}" if b else None
        if b:
            parts.append(f"""
    c{b} AS ({corpus_union})""")
        parts.append(f"""
    b{b} AS (SELECT doc_id, text FROM documents
             WHERE doc_id % {n_batches} = {b}),
    e{b} AS (SELECT min(doc_id) AS doc_id FROM b{b} GROUP BY text),
    s{b} AS (SELECT doc_id FROM e{b}
             WHERE doc_id NOT IN (
                 SELECT p.hi FROM pairs p
                 JOIN e{b} x ON x.doc_id = p.lo
                 JOIN e{b} y ON y.doc_id = p.hi))""")
        if b:
            parts.append(f"""
    m{b} AS (SELECT s.doc_id,
                    CASE WHEN p.lo = s.doc_id THEN p.hi
                         ELSE p.lo END AS cid,
                    p.jaccard
             FROM s{b} s
             JOIN pairs p ON p.lo = s.doc_id OR p.hi = s.doc_id
             JOIN c{b} c ON c.doc_id = CASE WHEN p.lo = s.doc_id
                                            THEN p.hi ELSE p.lo END),
    best{b} AS (SELECT doc_id, cid, jaccard FROM (
                    SELECT doc_id, cid, jaccard,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, cid) AS rn
                    FROM m{b}) WHERE rn = 1),
    a{b} AS (SELECT doc_id FROM s{b}
             WHERE doc_id NOT IN (SELECT doc_id FROM m{b})),
    log{b} AS (SELECT b.doc_id,
                      b.doc_id IN (SELECT doc_id FROM a{b}) AS kept,
                      best{b}.cid AS dup_of, best{b}.jaccard
               FROM b{b} b
               LEFT JOIN best{b} ON best{b}.doc_id = b.doc_id)""")
            corpus_union += f" UNION SELECT doc_id FROM a{b}"
        else:
            parts.append(f"""
    a0 AS (SELECT doc_id FROM s0),
    log0 AS (SELECT b.doc_id,
                    b.doc_id IN (SELECT doc_id FROM a0) AS kept,
                    CAST(NULL AS BIGINT) AS dup_of,
                    CAST(NULL AS DOUBLE) AS jaccard
             FROM b0 b)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM log{b}" for b in range(n_batches))
    return "WITH " + ",".join(parts) + f"\n    {union}"
