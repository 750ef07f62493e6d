"""User-facing facade — the one-import surface a user of the reference
engine would switch to.

The reference exposes ingest endpoints + canned analytics queries over
pluggable storage; the Spark-native equivalent is a thin object tying
together session, catalog, and the query registry:

    from data_ingestion_challenge_spark.api import Engine

    eng = Engine("/root/testdata/sf0.01")
    eng.names()                      # every registered query
    df = eng.run("hourly_user_events")
    eng.ingest_jsonl("drops/", "events_lake/", "ckpt/")   # streaming
    eng.table("events")              # raw table access

Everything returns plain DataFrames — composable with arbitrary user
transformations before collection.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col

from data_ingestion_challenge_spark.catalog import Catalog, DEFAULT_SF_DIR
from data_ingestion_challenge_spark.plans import QUERIES
from data_ingestion_challenge_spark.session import get_spark


_HWM_FILE = "_maint_hwm.json"


def _load_index_hwm(index_path: str) -> dict | None:
    """The index's maintenance high-water mark: the corpus version
    whose changes are already folded into the index.  ``in_progress``
    True is the crash marker — a previous CDC-fed maintenance attempt
    started extending but never advanced the mark, so the next drain
    must take the full anti-join path (which is idempotent against a
    partial extend)."""
    import json

    p = os.path.join(index_path, _HWM_FILE)
    try:
        with open(p) as f:
            state = json.load(f)
    except (OSError, ValueError):
        return None
    return state if isinstance(state, dict) else None


def _store_index_hwm(index_path: str, table_path: str, version: int,
                     in_progress: bool,
                     pending: list[int] | None = None) -> None:
    """Atomic (tmp + rename) rewrite of the maintenance mark — a
    crash mid-write must leave either the old state or the new one,
    never a torn file the loader would misread as 'no mark' and
    silently re-baseline over.  ``pending`` carries doc ids committed
    at or before ``version`` whose out-of-band artifact (the IVF
    vector) has not arrived yet: the CDC path re-candidates them on
    every drain so a straggler embedding is indexed the drain it
    lands, without holding the whole mark hostage."""
    import json

    p = os.path.join(index_path, _HWM_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"table_path": os.path.abspath(table_path),
                   "version": int(version),
                   "in_progress": bool(in_progress),
                   "pending": sorted(int(x) for x in (pending or []))},
                  f)
    os.replace(tmp, p)


# Pending-straggler lists beyond this size stop fitting in a JSON
# side file; the maintenance path then leaves the mark dirty (full
# anti-join per drain) rather than growing an unbounded manifest.
_PENDING_CAP = 10_000

# CDC maintenance bucket pruning: above this many candidate ids the
# signature path stops collecting them driver-side and falls back to
# the full-index anti-join (still correct, just corpus-proportional).
_PRUNE_CAP = 20_000

# The bucket-layout contract (Murmur3 twins + filename routing) lives
# in serving.py in ONE place; re-exported here for the CDC
# maintenance callers and their tests.
from data_ingestion_challenge_spark.serving import (  # noqa: E402
    _murmur3_int,
)


def _sig_k(cols: list[str]) -> int:
    """k of a (doc_id, m0..mk-1) signature table from its columns —
    shared by extend_signatures' shape validation and health_report
    so a column-naming change cannot silently split the two."""
    import re as _re

    return sum(1 for c in cols if _re.fullmatch(r"m\d+", c))


class Engine:
    """One engine = one SparkSession + one data directory."""

    def __init__(self, sf_dir: str = DEFAULT_SF_DIR,
                 spark: SparkSession | None = None):
        self.spark = spark or get_spark("engine")
        self.catalog = Catalog(self.spark, sf_dir)

    # -------------------------------------------------------- queries
    def names(self) -> list[str]:
        return sorted(QUERIES)

    def run(self, name: str) -> DataFrame:
        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}; see names()")
        return QUERIES[name].plan(self.catalog)

    def oracle(self, name: str) -> str | None:
        """The ANSI-SQL twin (None for approx/iterative ops)."""
        return QUERIES[name].oracle

    def sql(self, statement: str) -> DataFrame:
        """Ad-hoc SQL over the registered tables."""
        self.catalog.register_views()
        return self.spark.sql(statement)

    # --------------------------------------------------------- tables
    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    def register(self, name: str,
                 fn: Callable[[Catalog], DataFrame]) -> None:
        """User-defined query, runnable via run() like built-ins."""
        from data_ingestion_challenge_spark.plans.registry import query
        query(name)(fn)

    # ------------------------------------------------------ ingestion
    def ingest_jsonl(self, watch_dir: str, out_dir: str,
                     checkpoint: str) -> None:
        """Drain new jsonl drops from watch_dir into the parquet lake
        (exactly-once via the checkpoint; re-call to pick up new
        files)."""
        from data_ingestion_challenge_spark.sources.streams import jsonl_stream
        q = (jsonl_stream(self.spark, watch_dir)
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    def maintain_rollup(self, events_path: str, out_dir: str,
                        checkpoint: str):
        """Incrementally maintain the per-(event_type, day) rollup (see
        streaming/incremental.py); returns its TxnTable — decode it
        with incremental.read_rollup."""
        from data_ingestion_challenge_spark.streaming.incremental import (
            run_incremental_rollup,
        )
        return run_incremental_rollup(self.spark, events_path, out_dir,
                                      checkpoint, grain="day")

    def ingest_documents(self, watch_dir: str, table_path: str,
                         postings_dir: str, log_dir: str,
                         checkpoint: str, sizes_dir: str,
                         tau: float = 0.8, n: int = 3,
                         compact_every: int | None = None,
                         vectors_path: str | None = None,
                         ivf_table: str | None = None,
                         ivf_path: str | None = None,
                         sig_table: str | None = None,
                         sig_path: str | None = None,
                         commit_mode: str = "append",
                         max_files_per_trigger: int = 64):
        """Dedup-screened document ingestion: drain jsonl doc drops
        through the streaming admission pipeline (intra-batch +
        vs-corpus dedup, exactly-once commit into a transactional
        corpus table, incremental posting maintenance, per-doc
        admission log) — streaming/admission.py.  Returns the corpus
        TxnTable; re-call to pick up new drops.  ``sizes_dir`` is the
        per-doc shingle-count store kept next to ``postings_dir``;
        the screen reads every corpus doc's size from it.
        ``compact_every`` auto-folds the posting/sizes increments
        into compacted runs in place whenever that many have
        accumulated (and, in append mode, the corpus table's run
        ladder on the same cadence).  ``commit_mode`` /
        ``max_files_per_trigger`` pass through to the sink:
        append-run commits (O(batch)) and backlog-coalescing triggers
        are the defaults — streaming/admission.py documents both.

        Pass ``vectors_path`` (a parquet of (vec_id, embedding) with
        vec_id == doc_id, e.g. the embedding service's output for the
        same drops) together with ``ivf_table``/``ivf_path`` to ALSO
        maintain the vector index: after the drain, the vectors of
        newly committed docs extend the frozen-centroid IVF index
        (extend_ivf) — the embedding-side analog of the posting-store
        maintenance the drain itself performs.

        Pass ``sig_table``/``sig_path`` (a signature table
        bootstrapped once via materialize_postings +
        materialize_signatures) to ALSO maintain the MinHash
        signature table from the drain's newly committed docs
        (extend_signatures) — the text-side index twin.

        Maintenance candidates come from CDC by default (r12): each
        index directory carries a durable high-water mark
        (_maint_hwm.json — the corpus version already folded in) and
        a drain feeds extend_* from ``table.changes(hwm)``, which
        plans O(changed files), never a corpus rescan.  The
        full-corpus anti-join remains the self-healing fallback and
        runs exactly when CDC attribution is unavailable: no mark
        yet (first maintenance after a bootstrap), the crash marker
        is set (a prior attempt extended but never advanced the
        mark), changes() refuses typed (boundary-crossing fold /
        merge commits / expired log), or — IVF only — some committed
        doc's vector hasn't arrived yet (the mark is then left
        dirty so the straggler is re-candidated next drain instead
        of silently dropped).  Idempotent across re-drains and
        crashes in every window; equivalence and file-boundedness
        are pinned in tests/test_cdc_maintenance.py.  Callers
        extending the same index DIRECTLY via extend_* must delete
        its _maint_hwm.json (one anti-join re-baseline follows)."""
        from pyspark.sql import functions as F

        from data_ingestion_challenge_spark.streaming.admission import (
            run_document_admission,
        )
        table = run_document_admission(
            self.spark, watch_dir, table_path, postings_dir, log_dir,
            checkpoint, tau=tau, n=n, sizes_dir=sizes_dir,
            compact_every=compact_every, commit_mode=commit_mode,
            max_files_per_trigger=max_files_per_trigger)
        # Index maintenance candidates: CDC when possible, full
        # anti-join as the safety net.  Each index directory carries
        # its own durable high-water mark (_maint_hwm.json: the
        # corpus version already folded in) so a drain normally feeds
        # extend_* from table.changes(hwm) — O(changed files), never
        # a corpus rescan.  The full-corpus anti-join path remains
        # for exactly the cases where CDC attribution is unavailable
        # or unsafe, and is what keeps every fallback idempotent:
        #   - no mark yet (first maintenance over a bootstrapped
        #     index), or the mark belongs to a different table path;
        #   - the crash marker is set (a previous CDC attempt
        #     extended but never advanced the mark — its docs are
        #     already indexed, and only the anti-join knows that);
        #   - changes() refuses typed (boundary-crossing fold, merge
        #     commits, expired log).
        # Callers extending the same index DIRECTLY via extend_* must
        # delete the index's _maint_hwm.json (forcing one anti-join
        # re-baseline) — the mark cannot see out-of-band appends.
        head = table.version()
        tp_abs = os.path.abspath(table_path)

        def _cdc_candidates(index_path: str) -> DataFrame | None:
            """Net changed corpus rows since the index's mark, or
            None → caller must run the full anti-join path."""
            st = _load_index_hwm(index_path)
            if (not st or st.get("table_path") != tp_abs
                    or st.get("in_progress")
                    or not isinstance(st.get("version"), int)
                    or st["version"] > head):
                return None
            try:
                # Pinned to the head captured right after the drain:
                # the advance-to-`head` below then matches EXACTLY
                # what was read, even if another commit lands
                # mid-maintenance.
                return table.changes(st["version"], until_version=head)
            except ValueError:
                # Typed refusal (fold crossed the boundary / merge
                # commits / expired log / window consumed): re-baseline
                # via anti-join.
                return None

        corpus = None
        if vectors_path is not None:
            if not (ivf_table and ivf_path):
                raise ValueError(
                    "vectors_path requires ivf_table and ivf_path — "
                    "there is no index to maintain otherwise")
            if not self.spark.catalog.tableExists(ivf_table):
                # Typed, like extend_ivf's own errors: a first drain
                # with vectors_path but no materialized index would
                # otherwise surface as a raw AnalysisException AFTER
                # the drain already committed, with no hint at the
                # required bootstrap step.
                raise ValueError(
                    f"ingest_documents: IVF index table {ivf_table!r} "
                    f"does not exist — run materialize_ivf(table="
                    f"{ivf_table!r}, path={ivf_path!r}) once to "
                    f"bootstrap the index before maintaining it "
                    f"through drains (the drain itself committed "
                    f"fine; re-invoking with the index in place "
                    f"extends it idempotently)")
            vecs = (self.spark.read.parquet(vectors_path)
                    .select("vec_id", "embedding"))
            indexed = (self.spark.table(ivf_table)
                       .select("vec_id").distinct())
            changed = _cdc_candidates(ivf_path)
            if changed is not None:
                # Crash marker BEFORE the extend: a crash after the
                # append but before the mark advance routes the next
                # drain through the anti-join fallback.
                st = _load_index_hwm(ivf_path)
                pend = [int(x) for x in (st or {}).get("pending", [])]
                _store_index_hwm(ivf_path, tp_abs, head,
                                 in_progress=True, pending=pend)
                ids = changed.select(col("doc_id").alias("vec_id"))
                if pend:
                    # Stragglers from earlier drains whose vectors
                    # hadn't arrived — re-candidated until they do.
                    ids = ids.unionByName(self.spark.createDataFrame(
                        [(x,) for x in pend], "vec_id long")).distinct()
                # The anti-join against the index's id column keeps
                # the extend contract under UPSERTS: a re-committed
                # doc_id (latest-wins replacement) comes back through
                # changes() but is already indexed — appending it
                # again would grow duplicate assignment rows.  The
                # check reads ONLY the bucket files of the cells the
                # candidates probe into (frozen-model routing,
                # _ivf_indexed_pruned) — O(batch buckets), never a
                # full index scan; the corpus TEXT read stays
                # O(changed files).
                cand = vecs.join(ids, "vec_id", "left_semi")
                chk = self._ivf_indexed_pruned(cand, ivf_table,
                                               ivf_path)
                new = cand.join(chk if chk is not None else indexed,
                                "vec_id", "left_anti")
                if not new.isEmpty():
                    self.extend_ivf(new, ivf_table, ivf_path)
                # Docs whose embedding still hasn't arrived stay on
                # the mark's pending list (bounded) — the mark
                # advances, the stragglers keep re-candidating, and
                # nothing is silently dropped.  Past the cap, leave
                # the crash marker dirty: full anti-join per drain.
                missing = [r[0] for r in
                           ids.join(vecs, "vec_id", "left_anti")
                           .limit(_PENDING_CAP + 1).collect()]
                if len(missing) <= _PENDING_CAP:
                    _store_index_hwm(ivf_path, tp_abs, head,
                                     in_progress=False,
                                     pending=missing)
            else:
                corpus = corpus if corpus is not None else (
                    table.read().select("doc_id", "text").persist())
                committed = corpus.select(col("doc_id").alias("vec_id"))
                new = (vecs.join(committed, "vec_id", "left_semi")
                       .join(indexed, "vec_id", "left_anti"))
                # A drain that admitted nothing new must not append:
                # an empty bucketed append still writes file
                # metadata churn.
                if not new.isEmpty():
                    self.extend_ivf(new, ivf_table, ivf_path)
                # The anti-join re-baseline covered everything up to
                # `head`; committed docs still waiting for vectors
                # ride the mark's pending list (bounded — past the
                # cap, no mark: CDC stays off rather than growing an
                # unbounded manifest).
                missing = [r[0] for r in
                           committed.join(vecs, "vec_id", "left_anti")
                           .limit(_PENDING_CAP + 1).collect()]
                if len(missing) <= _PENDING_CAP:
                    _store_index_hwm(ivf_path, tp_abs, head,
                                     in_progress=False,
                                     pending=missing)
        if sig_table is not None:
            if not sig_path:
                raise ValueError(
                    "sig_table requires sig_path — the bucketed "
                    "append needs the table's storage location")
            if not self.spark.catalog.tableExists(sig_table):
                raise ValueError(
                    f"ingest_documents: signature table {sig_table!r} "
                    f"does not exist — bootstrap it once via "
                    f"materialize_postings + materialize_signatures "
                    f"before maintaining it through drains (the "
                    f"drain itself committed fine; re-invoking with "
                    f"the table in place extends it idempotently)")
            changed = _cdc_candidates(sig_path)
            # Docs shorter than the shingle width can NEVER be signed
            # (they produce no shingles) — excluded on BOTH paths:
            # from the CDC feed (they'd re-shingle for an empty
            # append) and from the anti-join candidates (they'd
            # re-enter as a growing backlog on every drain).
            signable = F.size(F.split(col("text"), " ")) >= n
            signed = (self.spark.table(sig_table)
                      .select("doc_id").distinct())
            if changed is not None:
                _store_index_hwm(sig_path, tp_abs, head,
                                 in_progress=True)
                # Anti-join vs signed ids for the same upsert reason
                # as the IVF path: a re-committed doc_id must not
                # grow a second signature row.  The signature table
                # is bucketed BY doc_id, so the candidates' own ids
                # route straight to their Murmur3 buckets
                # (point_lookup_fast's test-enforced hash) and the
                # check reads only those bucket files — O(batch
                # buckets).  Past _PRUNE_CAP candidates the
                # driver-side id collect stops paying and the full
                # anti-join takes over (correct either way).
                cand = (changed.select("doc_id", "text")
                        .where(signable))
                cand_ids = [r[0] for r in
                            cand.select("doc_id").distinct()
                            .limit(_PRUNE_CAP + 1).collect()]
                if len(cand_ids) <= _PRUNE_CAP:
                    from data_ingestion_challenge_spark.serving import (
                        _murmur3_long,
                    )
                    nb = self._table_bucket_count(sig_table)
                    chk = self._pruned_index_keys(
                        sig_table, sig_path, "doc_id",
                        {_murmur3_long(int(i)) % nb
                         for i in cand_ids})
                else:
                    chk = signed
                new_docs = cand.join(chk, "doc_id", "left_anti")
                if not new_docs.isEmpty():
                    self.extend_signatures(new_docs, sig_table,
                                           sig_path, n=n)
                # Signatures are a pure per-doc function of text —
                # nothing external can arrive late — so the mark
                # always advances on success.
                _store_index_hwm(sig_path, tp_abs, head,
                                 in_progress=False)
            else:
                corpus = corpus if corpus is not None else (
                    table.read().select("doc_id", "text").persist())
                new_docs = (corpus.where(signable)
                            .join(signed, "doc_id", "left_anti"))
                if not new_docs.isEmpty():
                    self.extend_signatures(new_docs, sig_table,
                                           sig_path, n=n)
                _store_index_hwm(sig_path, tp_abs, head,
                                 in_progress=False)
        if corpus is not None:
            corpus.unpersist()
        return table

    def compact_admission_in_place(self, postings_dir: str,
                                   table_path: str,
                                   sizes_dir: str,
                                   level: str = "auto") -> int:
        """In-place stepped-merge maintenance of an admission posting
        store and its sizes store
        (streaming/admission.compact_store_in_place): folds committed
        increments into compacted runs and cascades merges up the
        geometric size ladder.  MUST be called while no
        admission stream is live on the store (the sink runs this
        itself via ``compact_every``; a manual call takes the same
        exclusivity contract).  Returns folded-increment count."""
        from data_ingestion_challenge_spark.streaming.admission import (
            _acquire_admission_lease, compact_store_in_place,
            release_admission_lease,
        )
        from data_ingestion_challenge_spark.txn import TxnTable

        table = TxnTable(self.spark, table_path, key="doc_id")
        if table.version() == 0:
            # Fail LOUDLY: an absent/typo'd table path yields empty
            # txn marks, every increment classifies as uncommitted,
            # and the fold silently does nothing forever — a
            # misconfiguration indistinguishable from "nothing to do".
            raise ValueError(
                f"compact_admission_in_place: no commit log at "
                f"{table_path!r} — pass the corpus TxnTable path the "
                f"admission sink commits into.")
        lease = _acquire_admission_lease(postings_dir)
        try:
            return compact_store_in_place(
                self.spark, postings_dir, table,
                sizes_dir=sizes_dir, level=level)
        finally:
            release_admission_lease(lease)

    # --------------------------------------------------- dedup infra
    def corpus_table_stats(self, table_path: str,
                           key: str = "doc_id") -> dict:
        """Operational audit of a transactional corpus table — the
        txn-side twin of posting_store_stats: TxnTable.table_stats()
        (base-vs-run row split + the run-generation ladder, footer
        reads only) plus the commit ``history`` — what an operator
        reads before tuning the append-mode compaction cadence."""
        from data_ingestion_challenge_spark.txn import TxnTable

        t = TxnTable(self.spark, table_path, key=key)
        if t.version() == 0:
            raise ValueError(
                f"corpus_table_stats: no commit log at {table_path!r}")
        return {**t.table_stats(), "history": t.history()}

    def corpus_changes(self, table_path: str, since_version: int,
                       key: str = "doc_id",
                       until_version: int | None = None) -> DataFrame:
        """Net document changes committed into a transactional corpus
        table after ``since_version`` (TxnTable.changes — the CDC
        read): with append-run commits (the admission sink's default)
        this is the newest row per doc_id among post-boundary drains,
        in O(changes) files.  The incremental downstream pattern:
        hold the version returned by table.version() after each
        drain, and refresh derived state (extend_signatures /
        extend_ivf / serving rollups) from this frame instead of
        re-reading the corpus.  Boundary-crossing folds refuse typed
        — re-baseline from a snapshot read (changes() documents the
        exact conditions)."""
        from data_ingestion_challenge_spark.txn import TxnTable

        t = TxnTable(self.spark, table_path, key=key)
        if t.version() == 0:
            raise ValueError(
                f"corpus_changes: no commit log at {table_path!r}")
        return t.changes(since_version, until_version=until_version)

    def posting_store_stats(self, postings_dir: str,
                            table_path: str | None = None,
                            sizes_dir: str | None = None) -> dict:
        """Operational audit of an admission posting store — the
        numbers a 100 TB operator reads before tuning compact_every
        or the bucket modulus:

        - ``runs``: the merge ladder, one entry per ``ingest_batch``
          partition — (tag, rows [parquet-footer metadata only],
          is_base, committed) — run-count growth here means the
          stepped merge is not keeping up;
        - ``df_histogram``: shingle document-frequency histogram in
          log2 buckets (operators/dedup.shingle_df_distribution over
          the store) — the df tail prices candidate-join blowup;
        - ``bucket_balance``: postings per ``s_bucket`` partition —
          partition skew that would make pruned screen reads
          lopsided;
        - ``mod``: the store's persisted bucket modulus.

        Heals a crashed in-place compaction swap under the admission
        lease BEFORE reading (the rule for every non-sink reader: a
        published-manifest half-swap otherwise hides folded
        increments from this reader) — and the histogram/balance
        frames are MATERIALIZED (localCheckpoint) while the lease is
        still held: returning them lazy would let a concurrent
        in-place compaction (sink compact_every) swap run directories
        mid-scan and under-count the audit.  The full-store scans run
        under the lease — this is an offline maintenance audit, not a
        per-batch path.  With ``table_path`` the ``committed`` flag
        is computed AND the histogram/balance are restricted to
        base + committed runs (a crashed batch's orphaned postings
        are flagged in ``runs``, not silently priced into the
        histogram); without it the flag is None and all runs count."""
        from pyspark.sql import functions as F

        from data_ingestion_challenge_spark.operators.dedup import (
            shingle_df_distribution,
        )
        from data_ingestion_challenge_spark.streaming.admission import (
            _acquire_admission_lease, _batch_tags, _dir_rows,
            _is_base, _tag_committed, recover_compaction,
            release_admission_lease, store_bucket_mod,
        )

        lease = _acquire_admission_lease(postings_dir)
        try:
            recover_compaction(postings_dir, sizes_dir)
            marks = None
            if table_path is not None:
                from data_ingestion_challenge_spark.txn import (
                    TxnTable,
                )
                marks = TxnTable(self.spark, table_path,
                                 key="doc_id").txn_marks()
            runs = []
            for tag in sorted(_batch_tags(postings_dir)):
                d = os.path.join(postings_dir,
                                 f"ingest_batch={tag}")
                runs.append({
                    "tag": tag,
                    "rows": _dir_rows(d),
                    "is_base": _is_base(tag),
                    "committed": (None if marks is None
                                  else _is_base(tag)
                                  or _tag_committed(marks, tag)),
                })
            mod = store_bucket_mod(postings_dir)
            store = (self.spark.read
                     .option("basePath", postings_dir)
                     .parquet(postings_dir))
            if marks is not None:
                # Audit only base + committed runs: a crashed batch's
                # uncommitted postings are surfaced by the runs
                # listing (committed=False), not folded into the
                # histogram the operator tunes against.
                ok = [r["tag"] for r in runs if r["committed"]]
                # Cast: partition-value inference types the column
                # int when every tag is numeric, string otherwise.
                store = store.where(
                    F.col("ingest_batch").cast("string").isin(ok))
            # Execute under the lease (eager localCheckpoint): lazy
            # frames would race a concurrent in-place compaction's
            # directory swap after release.
            hist = shingle_df_distribution(
                None,
                posting=store.select("doc_id", "s")).localCheckpoint()
            balance = (store.groupBy("s_bucket")
                       .agg(F.count("*").alias("n_postings"))
                       .localCheckpoint())
        finally:
            release_admission_lease(lease)
        return {"mod": mod, "runs": runs,
                "df_histogram": hist, "bucket_balance": balance}

    def materialize_postings(self, table: str, path: str, n: int = 3,
                             n_buckets: int = 32) -> None:
        """Materialize the shared (doc_id, shingle) posting table as a
        bucketed-by-shingle lake table — the checkpoint the in-session
        posting cache stands in for.  Every inverted-index dedup join
        (jaccard prefix, candidate verify) keys on the shingle, so two
        scans of this table self-join with no exchange; pass
        ``spark.table(table)`` as the ``posting=`` argument of the
        operators in operators/dedup.py to reuse it."""
        from data_ingestion_challenge_spark.operators.dedup import (
            _postings,
        )
        from data_ingestion_challenge_spark.sources.files import (
            write_bucketed,
        )
        posting = _postings(self.catalog.documents, n)
        try:
            write_bucketed(posting, table, path, bucket_key="s",
                           n_buckets=n_buckets)
        finally:
            posting.unpersist()

    def materialize_prefix(self, posting_table: str, table: str,
                           path: str, tau: float = 0.8,
                           n_buckets: int = 32) -> None:
        """Materialize the PPJoin prefix table (doc_id, s, n, _pos)
        for a given τ from an already-materialized posting table —
        the SECOND lake table a dedup deployment maintains: it is a
        pure function of (posting, τ) and carries the jaccard
        pipeline's costliest stage (the full rarity-rank sort), so
        recurring dedup runs pay only candidates + verification.
        Bucketed by s: the candidate self-join needs no exchange."""
        from data_ingestion_challenge_spark.operators.dedup import (
            build_prefix,
        )
        from data_ingestion_challenge_spark.sources.files import (
            write_bucketed,
        )
        prefix = build_prefix(self.spark.table(posting_table), tau)
        write_bucketed(prefix, table, path, bucket_key="s",
                       n_buckets=n_buckets)

    def materialize_signatures(self, posting_table: str, table: str,
                               path: str, k: int = 16,
                               n_buckets: int = 32,
                               n: int = 3) -> None:
        """Materialize the MinHash signature table (doc_id, m0..mk-1)
        from a materialized posting table — ~100 B/doc, the artifact
        every LSH banding pass and estimate audit rereads instead of
        re-hashing the corpus.  Bucketed by doc_id (the key the
        banding explode and audits group on).  ``n`` declares the
        shingle width the POSTING table was built with; it rides
        ``_sig_meta.json`` so extend_signatures can refuse an
        increment computed at a different width (same-shaped columns,
        silently incompatible minima otherwise)."""
        import json

        from data_ingestion_challenge_spark.operators.dedup import (
            build_signatures,
        )
        from data_ingestion_challenge_spark.sources.files import (
            write_bucketed,
        )
        sig = build_signatures(self.spark.table(posting_table), k)
        write_bucketed(sig, table, path, bucket_key="doc_id",
                       n_buckets=n_buckets)
        with open(os.path.join(path, "_sig_meta.json"), "w") as f:
            json.dump({"k": k, "n": n}, f)

    def extend_signatures(self, new_docs: DataFrame, table: str,
                          path: str, n: int = 3) -> None:
        """Incremental MinHash signature maintenance — the
        signature-table twin of extend_ivf: compute the k-min
        signatures of ONLY the new docs and append them into the
        bucketed signature table with the SAME bucket spec, so the
        banding/audit reads keep their exchange-free layout.  Unlike
        IVF there is no frozen corpus model to drift: a signature is
        a per-doc function of the doc's own shingles, so increments
        are exact by construction and the table never needs a
        reindex — per-drop cost is O(|new| shingles), never a corpus
        re-hash.  k is read off the table's m-columns (a k-mismatch
        is a typed refusal before any write; the append's schema
        validation backstops it).  Caller contract: doc_ids in
        ``new_docs`` are new to the table, and ``n`` is the shingle
        width the table was built with (ingest_documents passes the
        admission sink's own n)."""
        import json

        from data_ingestion_challenge_spark.operators.dedup import (
            _postings, build_signatures,
        )

        cols = self.spark.table(table).columns
        k = _sig_k(cols)
        if k == 0 or set(cols) != {"doc_id", *(f"m{i}"
                                               for i in range(k))}:
            raise ValueError(
                f"{table}: not a signature table (columns {cols}) — "
                f"extend_signatures maintains tables written by "
                f"materialize_signatures (doc_id, m0..mk-1)")
        # _sig_meta.json pins the table's shingle width: an increment
        # computed at a different n carries the SAME columns but
        # incompatible minima — refuse typed instead of silently
        # corrupting the banding reads.
        meta_path = os.path.join(path, "_sig_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("n") is not None and meta["n"] != n:
                raise ValueError(
                    f"{table}: signature table was built with "
                    f"n={meta['n']} shingles but this increment was "
                    f"requested at n={n} — the appended minima would "
                    f"silently disagree with the base sketch; pass "
                    f"the table's own n")
        post = _postings(new_docs.select("doc_id", "text"), n)
        try:
            sig = build_signatures(post, k)
            if sig.isEmpty():
                # Nothing signable (e.g. every doc shorter than the
                # shingle width): an empty bucketed append would still
                # churn table metadata on every call.
                return
            (sig.write.mode("append").format("parquet")
             .option("path", path)
             .bucketBy(self._table_bucket_count(table), "doc_id")
             .sortBy("doc_id")
             .saveAsTable(table))
        finally:
            # _postings persists itself (its dedup callers reuse it
            # 3-4x); this single-pass caller must release the pin or
            # every maintenance call leaks executor storage memory.
            post.unpersist()

    def materialize_ivf(self, table: str, path: str, nprobe: int = 4,
                        cell: int = 128, n_buckets: int = 32,
                        two_level: bool = False) -> None:
        """Materialize the multi-probe IVF index — the (vec_id,
        embedding, _cell) probe-assignment table — as a lake table
        bucketed by _cell.  This is the embedding-side analog of
        materialize_postings: the assignment pass (centroid scoring
        over the whole corpus) is the index-BUILD cost a deployment
        pays once per corpus snapshot, while every recurring dedup /
        keep-list run pays only the candidate self-join + exact
        verify — and with both join sides read from this bucketed
        layout that join needs no exchange.  Pass
        ``spark.table(table)`` as ``assignments=`` to
        ivf_candidate_pairs.  ``two_level=True`` builds the index
        with the coarse-quantized probe (ivf2_probe_assignments,
        O(√nlist) centroid scores per vector instead of O(nlist) —
        the build-cost path for corpora where nlist itself is large;
        probe sets are approximate, recall-gated in tests)."""
        import json

        from data_ingestion_challenge_spark.operators.similarity import (
            _ivf_seeds, ivf2_probe_assignments, probe_against_matrix,
        )
        from data_ingestion_challenge_spark.sources.files import (
            write_bucketed,
        )
        if two_level:
            e = ivf2_probe_assignments(self.catalog.embeddings,
                                       nprobe=nprobe, cell=cell)
            # Two-level indexes carry no flat centroid matrix to
            # freeze, so they are rebuild-only: the meta records that
            # fact so extend_ivf fails TYPED (ValueError), not with a
            # bare FileNotFoundError.
            meta = {"two_level": True, "nprobe": nprobe, "cell": cell}
        else:
            C, Cnorm, nlist = _ivf_seeds(self.catalog.embeddings,
                                         nprobe, cell, None)
            e = probe_against_matrix(self.catalog.embeddings, C,
                                     Cnorm, nprobe)
            # Freeze the index model beside the data: extend_ivf
            # probes future vectors against THESE centroids, so the
            # table stays one consistent Voronoi geometry however the
            # corpus grows (json doubles round-trip exactly).
            meta = {"nprobe": nprobe, "cell": cell, "nlist": nlist,
                    "centroids": C.tolist()}
        write_bucketed(e, table, path, bucket_key="_cell",
                       n_buckets=n_buckets)
        with open(os.path.join(path, "_ivf_meta.json"), "w") as f:
            json.dump(meta, f)

    def extend_ivf(self, new_embeddings: DataFrame, table: str,
                   path: str) -> None:
        """Incremental IVF index maintenance: assign ONLY the new
        vectors against the index's FROZEN centroid matrix
        (_ivf_meta.json, written by materialize_ivf) and append them
        into the bucketed assignment table — per-drop cost is
        O(|new|·nlist) centroid scores + a bucketed append, never a
        corpus re-probe.  The appended files carry the same bucket
        spec (table metadata), so candidate self-joins off the table
        stay exchange-free.  Reindex (re-materialize) when
        ivf_index_stats shows occupancy drifting past design — the
        frozen model is the standard trade: ingest cadence is
        decoupled from (expensive, corpus-wide) reindex cadence.
        Caller contract: vec_ids in ``new_embeddings`` are new to the
        table (the admission screen upstream guarantees it in the
        ingest pipeline)."""
        import json

        import numpy as np

        from data_ingestion_challenge_spark.operators.similarity import (
            probe_against_matrix,
        )
        meta_path = os.path.join(path, "_ivf_meta.json")
        if not os.path.exists(meta_path):
            raise ValueError(
                f"{path}: no _ivf_meta.json — not an index written by "
                "materialize_ivf; nothing to extend")
        with open(meta_path) as f:
            meta = json.load(f)
        if "centroids" not in meta:
            raise ValueError(
                f"{path}: two-level IVF indexes freeze no flat "
                "centroid matrix and are rebuild-only — reindex via "
                "materialize_ivf(two_level=True) instead of extending")
        C = np.asarray(meta["centroids"], dtype=np.float64)
        e = probe_against_matrix(new_embeddings, C,
                                 np.linalg.norm(C, axis=1),
                                 meta["nprobe"])
        # saveAsTable(append) validates the existing bucket spec and
        # hash-clusters the new files identically.
        (e.write.mode("append").format("parquet")
         .option("path", path)
         .bucketBy(self._table_bucket_count(table), "_cell")
         .sortBy("_cell")
         .saveAsTable(table))

    def _pruned_index_keys(self, table: str, path: str, key_col: str,
                           buckets: set[int]) -> DataFrame:
        """DISTINCT ``key_col`` read from ONLY the given bucket ids'
        files of a bucketed index table — the O(batch-buckets)
        replacement for the full-index id scan on the CDC maintenance
        path.  Same layout contract point_lookup_fast rides: a
        bucketed write routes every row of key k into bucket
        pmod(hash(k), n) and nowhere else, so an anti-join against
        just the candidates' buckets equals the full anti-join
        restricted to those candidates.  File routing rides
        serving.list_bucket_files — the one place the bucket-file
        naming contract is spelled."""
        from data_ingestion_challenge_spark.serving import (
            list_bucket_files,
        )
        files = list_bucket_files(path, buckets)
        if not files:
            return self.spark.table(table).select(key_col).limit(0)
        return (self.spark.read.parquet(*files)
                .select(key_col).distinct())

    def _ivf_indexed_pruned(self, cand_vecs: DataFrame, table: str,
                            path: str) -> DataFrame | None:
        """Bucket-pruned 'already indexed?' id set for the IVF CDC
        path, or None → caller must use the full-index scan.  The
        index is bucketed by _cell, and a vec_id's assignment cells
        are a pure function of its embedding and the FROZEN centroid
        matrix — so probing the candidates against the frozen model
        names exactly the cells (→ buckets) any prior assignment of
        those vec_ids lives in.  Soundness rides the vectors-lake
        contract extend_ivf already assumes: embeddings are immutable
        per vec_id (append-only lake) — a mutated embedding would
        leave stale assignment rows under EITHER anti-join.  The
        distinct-cell collect is bounded by nlist, never by corpus or
        batch size."""
        import json

        import numpy as np

        from data_ingestion_challenge_spark.operators.similarity import (
            probe_against_matrix,
        )
        meta_path = os.path.join(path, "_ivf_meta.json")
        if not os.path.exists(meta_path):
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        if "centroids" not in meta:
            return None        # two-level: rebuild-only, no frozen model
        C = np.asarray(meta["centroids"], dtype=np.float64)
        cells = {r[0] for r in
                 probe_against_matrix(cand_vecs, C,
                                      np.linalg.norm(C, axis=1),
                                      meta["nprobe"])
                 .select("_cell").distinct().collect()}
        nb = self._table_bucket_count(table)
        buckets = {_murmur3_int(int(c)) % nb for c in cells}
        return self._pruned_index_keys(table, path, "vec_id", buckets)

    def _table_bucket_count(self, table: str) -> int:
        d = self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}") \
            .where("col_name = 'Num Buckets'").collect()
        if not d:
            raise ValueError(
                f"{table}: not a bucketed table — index appends "
                "(extend_ivf / extend_signatures) must carry the "
                "table's bucket spec (the materialize_* builders "
                "write it); an unbucketed append would break the "
                "exchange-free reads the layout exists for")
        return int(d[0]["data_type"])

    def ivf_index_stats(self, table: str) -> DataFrame:
        """Index-staleness audit: per-cell occupancy distribution of
        the (maintained) assignment table vs the frozen design
        occupancy (nprobe·cell).  One map-side-combined groupBy over
        the index table (assignment-count-sized, never touches
        embeddings payload width beyond the scan) → a cells-sized
        rollup.  Reindex when p99_occupancy drifts a few × past
        design_occupancy: candidate fan-out per cell grows with
        occupancy², so a frozen model over a corpus that has
        doubled costs ~4× per-pair verify."""
        from pyspark.sql import functions as F
        occ = (self.spark.table(table).groupBy("_cell")
               .agg(F.count("*").alias("occ")))
        return occ.agg(
            F.count("*").alias("n_cells"),
            F.sum("occ").alias("n_assignments"),
            F.round(F.avg("occ"), 2).alias("mean_occupancy"),
            F.max("occ").alias("max_occupancy"),
            F.percentile("occ", F.lit(0.99)).alias("p99_occupancy"))

    def health_report(self, table_path: str | None = None,
                      postings_dir: str | None = None,
                      sizes_dir: str | None = None,
                      ivf_table: str | None = None,
                      ivf_path: str | None = None,
                      sig_table: str | None = None) -> DataFrame:
        """ONE tidy ops-health frame for a deployed ingest pipeline —
        the single call a pipeline operator alerts on, folding the
        per-component audits (TxnTable.table_stats,
        posting_store_stats, ivf_index_stats, the signature table,
        the admission lease) into (component, metric, value, note)
        rows.  Pass only the components the deployment runs; each is
        scanned through its own audit path (footer-only for the
        corpus ladder, lease-guarded for the posting store,
        metadata-only for the lease itself).  Alert thresholds the
        audits document: corpus ``run_generations`` growing past a
        handful → compact_runs is overdue; posting
        ``uncommitted_runs`` > 0 persisting → a crashed drain left
        orphans; ``bucket_skew`` (max/mean postings per bucket) a
        few × → re-modulus; IVF ``occupancy_drift`` (p99 vs design)
        a few × → reindex; ``lease_state`` 2 → a dead holder is
        blocking admission until stolen."""
        import json

        rows: list[tuple[str, str, float | None, str]] = []

        def _add(component: str, metric: str, value, note: str = ""):
            rows.append((component, metric,
                         None if value is None else float(value),
                         note))

        if table_path is not None:
            from data_ingestion_challenge_spark.txn import TxnTable

            s = TxnTable(self.spark, table_path,
                         key="doc_id").table_stats()
            for m in ("version", "n_files", "base_files",
                      "base_rows", "run_rows"):
                _add("corpus_table", m, s[m])
            _add("corpus_table", "run_generations",
                 len(s["generations"]),
                 "fold due when this grows past a handful")
        if postings_dir is not None:
            # Lease state FIRST: the store audit below acquires the
            # lease itself (stealing a dead holder's), so reading
            # after it would always report "free" and hide the crash
            # the operator needs to see.
            from data_ingestion_challenge_spark.streaming.admission \
                import _LEASE
            lease = os.path.join(postings_dir, _LEASE)
            state, note = 0.0, "free"
            try:
                with open(lease) as f:
                    pid = int(f.read().strip())
                os.kill(pid, 0)
                state, note = 1.0, f"held by live pid {pid}"
            except FileNotFoundError:
                pass  # free (or released in the probe window)
            except PermissionError:  # pragma: no cover - other-user pid
                state, note = 1.0, "held (pid alive, other user)"
            except (ValueError, OSError):
                # unparsable body, dead pid (ProcessLookupError), or
                # an unreadable file: a holder this probe cannot
                # confirm alive
                state, note = 2.0, "stale (holder dead/unparsable)"
            _add("posting_store", "lease_state", state, note)
            if state == 1.0:
                # A LIVE drain holds the lease: the store audit would
                # raise ConcurrentAdmissionError trying to acquire it.
                # Health must stay readable while the pipeline runs —
                # report the lease row and skip the store scan.
                _add("posting_store", "audit_skipped", 1.0,
                     "admission stream live — store scan needs the "
                     "lease; re-run when the drain finishes")
            else:
                st = self.posting_store_stats(
                    postings_dir, table_path=table_path,
                    sizes_dir=sizes_dir)
                runs = st["runs"]
                _add("posting_store", "n_runs", len(runs))
                _add("posting_store", "base_runs",
                     sum(1 for r in runs if r["is_base"]))
                uncommitted = [r["tag"] for r in runs
                               if r["committed"] is False]
                _add("posting_store", "uncommitted_runs",
                     len(uncommitted),
                     ",".join(str(t) for t in uncommitted[:8]))
                _add("posting_store", "posting_rows",
                     sum(r["rows"] for r in runs))
                _add("posting_store", "bucket_mod", st["mod"])
                hist = {int(r["df_bucket"]): int(r["n_shingles"])
                        for r in st["df_histogram"].collect()}
                if hist:
                    _add("posting_store", "df_log2_max", max(hist),
                         "heaviest shingle document-frequency bucket")
                if st["bucket_balance"] is not None:
                    bb = [int(r["n_postings"])
                          for r in st["bucket_balance"].collect()]
                    if bb:
                        _add("posting_store", "bucket_skew",
                             round(max(bb) / (sum(bb) / len(bb)), 3),
                             "max/mean postings per s_bucket")
                # Screen lever #2 health (r15 verdict "wrong" #2): an
                # undersized s_bucket_mod silently neutralizes the
                # bloom skip — every over-cap bucket is an always-hit
                # marker — so both failure shapes get a row: coverage
                # (runs whose screens fall back to full scans) and
                # the over-cap fraction (buckets that can't skip).
                # Constraint: mod ≳ store_rows / 64e6 (the per-bloom
                # key cap); docs/SCREEN_SCALING.md "Sizing guidance".
                from data_ingestion_challenge_spark.streaming import (
                    sidecar as _sc,
                )
                sh = _sc.sidecar_health(postings_dir)
                if sh["base_runs"]:
                    _add("posting_store", "sidecar_coverage",
                         round(sh["covered_runs"] / sh["base_runs"],
                               3),
                         "uncovered runs scan fully: " + ",".join(
                             sh["uncovered"][:8]) if sh["uncovered"]
                         else "every base run has a valid sidecar")
                if sh["buckets"]:
                    _add("posting_store", "sidecar_overcap_fraction",
                         round(sh["overcap_buckets"]
                               / sh["buckets"], 3),
                         "always-hit markers skip nothing — raise "
                         "s_bucket_mod past store_rows/64e6"
                         if sh["overcap_buckets"] else
                         "all blooms under the 64M-key cap")
        if ivf_table is not None:
            occ = self.ivf_index_stats(ivf_table).collect()[0]
            for m in ("n_cells", "n_assignments", "mean_occupancy",
                      "max_occupancy", "p99_occupancy"):
                _add("ivf_index", m, occ[m])
            if ivf_path is not None:
                meta_path = os.path.join(ivf_path, "_ivf_meta.json")
                if os.path.exists(meta_path):
                    with open(meta_path) as f:
                        meta = json.load(f)
                    design = meta.get("nprobe", 1) * meta.get("cell",
                                                              128)
                    _add("ivf_index", "design_occupancy", design)
                    # An EMPTY assignment table aggregates to NULLs —
                    # drift is then simply 0 (nothing occupies).
                    p99 = occ["p99_occupancy"]
                    _add("ivf_index", "occupancy_drift",
                         round(float(p99) / design, 3)
                         if p99 is not None else 0.0,
                         "reindex when this runs a few x past 1")
        if sig_table is not None:
            _add("signature_table", "k",
                 _sig_k(self.spark.table(sig_table).columns))
            _add("signature_table", "n_docs",
                 self.spark.table(sig_table).count())
        return self.spark.createDataFrame(
            rows, "component string, metric string, value double, "
                  "note string")

    def dedup_incoming(self, new_docs: DataFrame, posting_table: str,
                       tau: float = 0.8, n: int = 3) -> DataFrame:
        """Ingest-time admission screen: per incoming doc, the
        is_dup/dup_of/jaccard verdict against the corpus behind an
        already-materialized posting table — batch-sized work through
        the streaming sink's one screen (operators/dedup._screen_pairs
        via incremental_dedup_verdict).  Computed when called: the
        returned frame is checkpoint-backed and leaves no cached
        frame behind."""
        from data_ingestion_challenge_spark.operators.dedup import (
            incremental_dedup_verdict,
        )
        return incremental_dedup_verdict(
            new_docs, self.spark.table(posting_table), n=n, tau=tau)

    def dedup_corpus(self, method: str = "minhash",
                     tau: float = 0.8) -> DataFrame:
        """END-TO-END dedup: near-dup pair generation (`method` ∈
        exact | minhash | jaccard | simhash) → connected components →
        keep-list (survivor = min doc_id per cluster; singletons
        keep) → the documents table filtered to survivors.  The
        one-call pipeline a reference user runs; each stage is the
        same scale-disciplined operator the registry gates
        individually."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import col

        from data_ingestion_challenge_spark.operators import dedup as D
        from data_ingestion_challenge_spark.operators.graph import (
            connected_components,
        )

        docs = self.catalog.documents
        if method == "exact":
            keep = (D.exact_dedup(docs)
                    .select(col("keep_doc_id").alias("doc_id")))
            return docs.join(keep, "doc_id", "left_semi")
        if method == "minhash":
            pairs = D.minhash_lsh_pairs(docs, tau=tau)
        elif method == "jaccard":
            pairs = D.ngram_jaccard_pairs(docs, tau=tau)
        elif method == "simhash":
            pairs = (D.simhash_pairs(docs)
                     .select("doc_a", "doc_b"))
        else:
            raise ValueError(f"unknown dedup method {method!r}")
        clusters = connected_components(pairs, "doc_a", "doc_b")
        drop = clusters.where(col("id") != col("cluster_id")) \
                       .select(col("id").alias("doc_id"))
        # no broadcast hint: the drop set can be a large corpus
        # fraction on a duplicate-heavy crawl — AQE picks the strategy
        return docs.join(drop, "doc_id", "left_anti")

    def sample_corpus(self, n: int, salt: str = "res") -> DataFrame:
        """Deterministic fixed-size uniform sample of the documents
        table (operators/curation.reservoir_sample): salted md5-rank
        top-n — replayable across re-ingests, partial top-n plan
        (no global sort)."""
        from data_ingestion_challenge_spark.operators.curation import (
            reservoir_sample,
        )
        return reservoir_sample(self.catalog.documents, "doc_id", n,
                                salt)

    def corpus_drift(self, snap_a: DataFrame,
                     snap_b: DataFrame) -> DataFrame:
        """Per-source token-share drift between two corpus snapshots
        (operators/curation.token_share_drift) — the curation diff a
        re-crawl review reads."""
        from data_ingestion_challenge_spark.operators.curation import (
            token_share_drift,
        )
        return token_share_drift(snap_a, snap_b)

    def corpus_snapshot_diff(self, snap_a: DataFrame,
                             snap_b: DataFrame) -> DataFrame:
        """Per-doc added/removed/changed/unchanged between two corpus
        snapshots (operators/curation.snapshot_diff) — hash-only
        shuffle; feeds incremental recompute of downstream tables."""
        from data_ingestion_challenge_spark.operators.curation import (
            snapshot_diff,
        )
        return snapshot_diff(snap_a, snap_b)

    def corpus_novelty(self, n: int = 3) -> DataFrame:
        """Per-doc n-gram novelty over the documents table
        (operators/curation.ngram_novelty) — the inverse-duplication
        curation signal."""
        from data_ingestion_challenge_spark.operators.curation import (
            ngram_novelty,
        )
        return ngram_novelty(self.catalog.documents, n)

    def recommend_banding(self, target_tau: float = 0.8,
                          max_fn_rate: float = 0.05,
                          k: int = 16) -> dict:
        """Pick the CHEAPEST MinHash-LSH banding of a k-hash
        signature whose S-curve collision probability at
        ``target_tau`` is ≥ 1 − ``max_fn_rate`` (the false-negative
        budget).  Fewer bands ⇒ longer rows ⇒ fewer candidate pairs
        to verify, so the first satisfying banding in ascending-bands
        order is the cost-optimal one; pure driver-side math over the
        same lsh_collision_prob the registered lsh_band_planner
        emits.  Raises if no banding of this k meets the budget
        (raise k)."""
        from data_ingestion_challenge_spark.operators.dedup import (
            lsh_collision_prob,
        )
        for b in sorted(d for d in range(1, k + 1) if k % d == 0):
            p = lsh_collision_prob(target_tau, b, k // b)
            if p >= 1 - max_fn_rate:
                return {"bands": b, "rows": k // b, "p_collision": p}
        raise ValueError(
            f"no banding of k={k} reaches p ≥ {1 - max_fn_rate} at "
            f"tau={target_tau}; increase k")

    def retrieve(self, queries: list[tuple[str, str]],
                 k: int = 10) -> DataFrame:
        """BM25 top-k docs per query over the documents table
        (operators/retrieval.bm25_topk) — the query-based curation
        read ("pull the docs most about X"); queries =
        [(query_id, query_text)]."""
        from data_ingestion_challenge_spark.operators.retrieval import (
            bm25_topk,
        )
        return bm25_topk(self.catalog.documents, queries, k=k)

    def chunk_corpus(self, chunk_tokens: int = 1024,
                     stride: int | None = None) -> DataFrame:
        """Overlapping fixed-size token windows over the documents
        table (operators/curation.chunk_windows) — long-context
        training chunking; zero-shuffle Catalyst explode."""
        from data_ingestion_challenge_spark.operators.curation import (
            chunk_windows,
        )
        return chunk_windows(self.catalog.documents, chunk_tokens,
                             stride)

    # -------------------------------------------------------- serving
    def serve(self, query_name: str, table: str, path: str, key: str,
              n_buckets: int = 32) -> None:
        """Materialize a registry query's result as a keyed serving
        table (bucketed + sorted by `key`) for point lookups — the
        analog of the reference's per-key rollup read endpoints."""
        from data_ingestion_challenge_spark.serving import (
            build_keyed_rollup,
        )
        build_keyed_rollup(self.run(query_name), table, path, key,
                           n_buckets)

    def lookup(self, table: str, key: str, value) -> list:
        """Point read from a serve()d table, executed eagerly: no
        shuffle, one bucket file, row-group-pruned (see serving.py).
        Returns the matching Rows."""
        from data_ingestion_challenge_spark.serving import point_lookup
        return point_lookup(self.spark, table, key, value)

    def lookup_fast(self, table: str, key: str, value) -> list:
        """Plannerless point read (serving.point_lookup_fast): Murmur3
        bucket routing + cached manifest + Arrow predicate read —
        ~1 ms instead of a Spark job.  Same rows as lookup()."""
        from data_ingestion_challenge_spark.serving import (
            point_lookup_fast,
        )
        return point_lookup_fast(self.spark, table, key, value)

    def txn_create(self, df: DataFrame, path: str, key: str,
                   n_buckets: int = 32):
        """Create a TRANSACTIONAL keyed table (txn.py commit log):
        snapshot reads, time travel, optimistic multi-writer MERGE
        (upsert + delete via merge_into).  Returns the TxnTable
        handle."""
        from data_ingestion_challenge_spark.txn import TxnTable
        return TxnTable.create(self.spark, path, df, key, n_buckets)

    def txn(self, path: str, key: str, n_buckets: int = 32):
        """Handle to an existing transactional table at path."""
        from data_ingestion_challenge_spark.txn import TxnTable
        return TxnTable(self.spark, path, key, n_buckets)

    def check(self, name: str) -> dict:
        """Run a registry query on Spark AND its DuckDB oracle on the
        same parquet, and compare (rows, column names, sorted values)
        — the external correctness gate as a user-facing API.  Returns
        {"rows_match", "schema_match", "values_match", "spark_rows",
        "oracle_rows"}.  Raises KeyError for a query with no oracle."""
        import math

        import duckdb

        sql = self.oracle(name)
        if sql is None:
            raise KeyError(f"{name} has no SQL oracle")
        sdf = self.run(name)
        srows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier",
                      "part", "orders", "lineitem", "events",
                      "documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.catalog.sf_dir}/{t}.parquet'")
            rel = con.sql(sql)
            drows = rel.fetchall()
            dcols = rel.columns
        finally:
            con.close()

        def _norm(v):
            if isinstance(v, float):
                return "NaN" if math.isnan(v) else round(v, 6)
            return v

        def _key(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(_norm(r[i]) for i in order)
                          for r in rows)

        return {
            "rows_match": len(srows) == len(drows),
            "schema_match": sorted(sdf.columns) == sorted(dcols),
            "values_match": _key(srows, sdf.columns) == _key(drows,
                                                            dcols),
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
        }

    def check_all(self, names: list[str] | None = None) -> dict:
        """check() across many queries in one call: returns
        {"passed": [...], "failed": [...], "skipped": [...],
        "results": {name: check-dict}} — the full external gate as a
        user API (the driver's round check, runnable locally).
        ``names`` defaults to EVERY registered query; queries without
        a SQL oracle are listed under "skipped".  Heavy at large SF —
        each name is a full Spark + DuckDB execution."""
        out = {"passed": [], "failed": [], "skipped": [],
               "results": {}}
        for name in (names if names is not None else self.names()):
            try:
                if self.oracle(name) is None:
                    out["skipped"].append(name)
                    continue
            except KeyError:
                out["results"][name] = {"error": "unknown query"}
                out["failed"].append(name)
                continue
            try:
                r = self.check(name)
            except Exception as exc:
                out["results"][name] = {"error": repr(exc)}
                out["failed"].append(name)
                continue
            out["results"][name] = r
            ok = (r["rows_match"] and r["schema_match"]
                  and r["values_match"])
            (out["passed"] if ok else out["failed"]).append(name)
        return out

    # ------------------------------------------------------- lifecycle
    def close(self) -> None:
        """Release executor storage held on THIS engine's behalf: only
        posting-cache entries for this session's application and this
        engine's sf_dir are evicted, so other live Engines sharing the
        application keep their caches.  The SparkSession itself is NOT
        stopped — it may be shared with other engines."""
        from data_ingestion_challenge_spark.plans.llm import (
            clear_posting_cache,
        )
        clear_posting_cache(
            app_id=self.spark.sparkContext.applicationId,
            sf_dir=self.catalog.sf_dir)
