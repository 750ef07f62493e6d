"""Per-run bloom sidecars for the admission posting store — screen
lever #2 from docs/SCREEN_SCALING.md.

The admission screen's corpus cost is linear in posting rows scanned
(measured ~0.17 s per M rows at bench geometry).  A 100 TB store
cannot be rescanned per batch, but most of a deduplicated crawl
batch's shingles are corpus-novel (the screen's own kept fraction is
~0.95), so most (run, bucket) partitions contain NO batch shingle at
all — scanning them buys nothing.  Each compacted run therefore
carries a sidecar of per-bucket bloom filters over its distinct
shingles; the screen tests the batch's shingles against the sidecars
first and drops every (run, bucket) with no hit from the corpus read,
via a partition-column predicate (PartitionFilters — the same pruning
mechanism the s_bucket layout already rides).

Safety argument (why a skip can never change a verdict):
- The bloom is built over EVERY distinct shingle in the run (read
  back from the run's own files after the fold writes them), and the
  screen-side membership test uses the exact same hash pipeline
  (Spark ``xxhash64(s)`` / ``hash(s)`` computed by Spark on BOTH
  sides, positions derived in one shared numpy helper) — so a bloom
  "no hit" is a PROOF that the (run, bucket) holds no batch shingle.
  Such a partition contributes zero rows to ``rel`` (the corpus
  occurrences of batch shingles), hence nothing to rarity ranking,
  candidates, or verification: skipping it is value-identical.
- False POSITIVES only cost an unnecessary scan.
- A missing, corrupt, truncated, or stale sidecar degrades to the
  current full scan of that run — never a skip (load returns None and
  the run is read unconditionally).
- Staleness: fold target tags are REUSED ("-1", "-2"), so a sidecar
  alone cannot identify content.  Every sidecar embeds a fingerprint
  of the run directory's data files (relative name + size); a
  mismatch (tag rewritten by a later fold) invalidates the sidecar.
  Fingerprints use relative paths, so the staged→live rename of the
  compaction swap does not invalidate them.  Validation is O(1) on
  the happy path (r16): the build persists the fingerprint as a
  RECORD file inside the run dir (FINGERPRINT_FILE — it lives and
  dies with the dir, so a record can never describe content it
  wasn't computed from), and the screen compares sidecar-embedded vs
  record with one small read; record-less runs fall back to the full
  os.walk.  The narrowing this buys: an out-of-band edit to a
  managed run's data files no longer invalidates the sidecar — such
  edits are outside the store contract (the same trust parquet
  footers already get).

Crash windows (all degrade, none lie): sidecars are written AFTER the
compaction swap publishes the run — a crash before the write leaves a
run with no sidecar (scanned); a crash after the record write but
before the sidecar publish leaves a record nobody consults (no
sidecar → scanned); a crash BETWEEN the swap and the old sidecar's
drop leaves a stale sidecar against a record-less new dir (walk
fallback → mismatch → scanned); a crash that leaves an orphan sidecar
(its run folded away) leaves a file nobody consults; a crashed
half-written ``.npz`` fails to parse (scanned).  Writes are
tmp+rename atomic anyway.

Sizing (why 32 bits/key, not the textbook 10): the skip decision is
per (run, bucket), and a bucket skips only if ALL of the batch's
shingles in that bucket miss.  An analytics-sized batch carries ~10^5
distinct shingles ≈ 1.5k per bucket at mod=64, so the per-shingle
false-positive rate must be ≲1e-6 for a truly-disjoint partition to
survive 1.5k trials: m/n = 32 bits per key with k = 16 gives
fp = (1 − e^{−k·n/m})^k ≈ 3.4e-7, i.e. a disjoint (run, bucket) is
falsely kept with probability ~5e-4 per batch.  The textbook
10-bits/key bloom (fp ≈ 1%) would be falsely hit on essentially
every batch and skip nothing.  Cost: 4 bytes per distinct shingle,
~1-2% of the posting rows they summarize.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import zipfile

import numpy as np

BLOOM_DIR = "_blooms"

# Per-run fingerprint record, written INSIDE the run directory (so it
# lives and dies with the dir: the compaction swap's rmtree+rename and
# Spark's mode("overwrite") both replace the whole dir, record
# included — a record can never describe a dir it wasn't computed
# from).  Underscore prefix: invisible to Spark listings, excluded
# from the fingerprint itself.
FINGERPRINT_FILE = "_fingerprint.json"

BITS_PER_KEY = 32
K_HASHES = 16

# A bucket whose ROW count exceeds this writes NO bloom for that
# bucket (the sidecar marks it always-hit): the bitmap, the
# executor-side pandas group, and the driver-side collect all stay
# bounded — over-cap buckets are routed to the marker from parquet
# FOOTER row counts BEFORE the build UDF ever materializes them
# (rows ≥ distinct keys → conservative).  4 bytes/key → ≤256 MB
# bitmap cap.
MAX_KEYS_PER_BLOOM = 64_000_000

_FORMAT_VERSION = 1

# Parsed-sidecar cache keyed by (path, mtime_ns, size): the sink
# loads sidecars once per micro-batch and they change only at fold
# time.  Fingerprint validation against the run dir still happens on
# every load (it is an os.scandir, not a parse).  Guarded by a lock:
# two admission sinks over different stores share this module global
# from separate foreachBatch threads, and an unsynchronized
# iterate-while-mutate would raise out of load_run_sidecar — every
# sidecar failure mode must degrade to a scan, never an error.
_CACHE: dict[tuple, dict] = {}

_CACHE_LOCK = threading.Lock()


def _fetch_partitions(counts: dict[int, int], over: list[int]) -> int:
    """How many partitions the sidecar build's driver stream fetches
    the built bitmaps in (r17; guide §2.2).  Sized from the DATA:
    footer row counts upper-bound bitmap bytes (m ≤ next_pow2(32·keys)
    bits → < 8 B/row, + the 128 B floor and header slack), and the
    target is ≤ ~256 MB estimated per partition, 4× oversampled
    against hash collisions, capped at 2× the under-cap bucket count
    (the r16 spreading — residency ≈ 1 bucket).  A bench-sized store
    (KB bitmaps) therefore streams as ONE fetch instead of the r16
    constant 128 serial round trips (measured 7.8–9.9 s of the
    admission_compact_s regression), while a right-sized-mod 100 TB
    store keeps per-fetch residency ≈ one ≤256 MB bucket."""
    over_set = set(over)
    n_under = max(1, len(counts) - len(over_set))
    est = sum(min(8 * n + 4096, 8 * MAX_KEYS_PER_BLOOM)
              for b, n in counts.items() if b not in over_set)
    # 128 MB per-partition target, not 256: the consumer prefetches
    # one partition ahead (toLocalIterator(prefetchPartitions=True)),
    # so worst-case driver residency is ~2 in-flight partitions —
    # halving the per-partition target keeps the documented ~256 MB
    # residency bound a BOUND again instead of an expectation
    # (r17 advice).
    return min(2 * n_under, max(1, (est * 4) // (128 << 20) + 1))


def _bloom_m_bits(n_keys: int) -> int:
    """Bitmap size for n keys: BITS_PER_KEY per key, power of two
    (so position extraction is a mask), floor 1024 bits."""
    m = max(1024, n_keys * BITS_PER_KEY)
    return 1 << (m - 1).bit_length()


def _positions(h1u: np.ndarray, h2u: np.ndarray, m_bits: int,
               k: int = K_HASHES) -> np.ndarray:
    """The ONE position derivation both the build and the membership
    test use: double hashing pos_i = (h1 + i·stride) & (m−1) with an
    ODD stride from h2 (odd strides are units mod a power of two, so
    the k probes never collapse onto one slot).  Inputs are the
    uint64 reinterpretations of Spark's xxhash64(s) and hash(s).
    Returns an (n, k) uint64 array of bit positions."""
    stride = (h2u << np.uint64(1)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1u[:, None] + i * stride[:, None]) & np.uint64(m_bits - 1)


def _set_bits(bits: np.ndarray, idx: np.ndarray) -> None:
    """OR the (n, k) positions into the packed uint8 bitmap."""
    flat = idx.reshape(-1)
    np.bitwise_or.at(bits, (flat >> np.uint64(3)).astype(np.int64),
                     (np.uint64(1) << (flat & np.uint64(7)))
                     .astype(np.uint8))


def _test_bits(bits: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Membership test: per input row, whether ALL k probed bits are
    set.  idx is (n, k); returns an (n,) bool array."""
    byte = (idx >> np.uint64(3)).astype(np.int64)
    bit = (idx & np.uint64(7)).astype(np.uint8)
    probes = (bits[byte] >> bit) & np.uint8(1)
    return probes.all(axis=1)


def _as_u64(col) -> np.ndarray:
    """Reinterpret a pandas/arrow int column as uint64 (Spark hashes
    are SIGNED; bloom arithmetic wants the bit pattern)."""
    return np.asarray(col, dtype=np.int64).astype(np.uint64)


def run_fingerprint(run_dir: str) -> str | None:
    """Content identity of a run directory: md5 over the sorted
    (relative path, size) list of its DATA files.  Relative paths
    survive the compaction swap's staged→live rename; hidden/marker
    files (_SUCCESS, .crc) are excluded because Spark rewrites them
    freely.  None if the dir is missing or empty of data files."""
    entries: list[str] = []
    for base, dirs, files in os.walk(run_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(base, f), run_dir)
            try:
                size = os.path.getsize(os.path.join(base, f))
            except OSError:
                return None
            entries.append(f"{rel}:{size}")
    if not entries:
        return None
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


def stored_fingerprint(run_dir: str) -> str | None:
    """The run's PERSISTED fingerprint record (one small file read —
    the O(1) replacement for the per-batch os.walk the r15 screen
    paid on every sidecar load).  None when absent/unparsable: the
    caller falls back to the full run_fingerprint walk."""
    try:
        with open(os.path.join(run_dir, FINGERPRINT_FILE)) as fh:
            v = json.load(fh).get("fingerprint")
        return v if isinstance(v, str) else None
    except (OSError, ValueError):
        return None


def write_fingerprint_record(run_dir: str, fp: str) -> None:
    """Persist the run-dir fingerprint next to the data it describes
    (tmp+rename atomic).  Called by the sidecar build right after a
    fold's swap, under the admission lease — the one writer that owns
    the dir at that moment.  The record is authoritative for sidecar
    validation from then on: out-of-band edits to a managed run's
    data files are outside the store contract (the same trust already
    extended to parquet footers), and the only in-contract rewrite —
    a later fold reusing the tag — replaces the whole dir, record
    included."""
    path = os.path.join(run_dir, FINGERPRINT_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"fingerprint": fp}, fh)
    os.replace(tmp, path)


def sidecar_path(postings_dir: str, tag: str) -> str:
    return os.path.join(postings_dir, BLOOM_DIR, f"{tag}.npz")


def _bucket_row_counts(run_dir: str) -> dict[int, int]:
    """Per-bucket ROW counts from parquet footers only (no Spark
    job): {bucket: rows} keyed by the ``s_bucket=`` partition dirs.
    The over-cap routing's signal — rows upper-bound distinct keys,
    so the cap stays conservative."""
    import pyarrow.parquet as pq

    def _dir_rows(d: str) -> int:
        total = 0
        for base, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
            for f in files:
                if f.startswith((".", "_")) or not f.endswith(
                        (".parquet", ".snappy.parquet")):
                    continue
                total += pq.ParquetFile(
                    os.path.join(base, f)).metadata.num_rows
        return total

    out: dict[int, int] = {}
    # Sharded layout (screen lever #1) nests s_shard= above s_bucket=;
    # blooms stay keyed by BUCKET across shards (a bucket with no
    # batch shingle anywhere in the run is droppable in every shard),
    # so per-bucket rows SUM across the shard dirs.
    roots = [run_dir]
    shard_dirs = [e.path for e in os.scandir(run_dir)
                  if e.is_dir() and e.name.startswith("s_shard=")]
    if shard_dirs:
        roots = shard_dirs
    for root in roots:
        for e in os.scandir(root):
            if e.is_dir() and e.name.startswith("s_bucket="):
                b = int(e.name.split("=", 1)[1])
                out[b] = out.get(b, 0) + _dir_rows(e.path)
    return out


def build_run_sidecar(spark, postings_dir: str, tag: str) -> bool:
    """Build and atomically publish the bloom sidecar for run
    ``ingest_batch=<tag>``.  Reads the run's own files (so the bloom
    covers exactly its content), hashes IN SPARK (xxhash64 + hash —
    the same engine the membership test hashes with), builds one
    bloom per s_bucket via applyInPandas, and embeds the run-dir
    fingerprint.  Returns False (writing nothing) when the run dir is
    missing/empty.  Intended to run right after a compaction swap,
    under the admission lease; a failure should be caught by the
    caller — sidecars are an optimization, never worth failing a
    fold over."""
    from pyspark.sql import functions as F

    run_dir = os.path.join(postings_dir, f"ingest_batch={tag}")
    fp = run_fingerprint(run_dir)
    if fp is None:
        return False
    # Persist the fingerprint as the run's record FIRST: from now on
    # every screen load validates with one file read instead of
    # re-walking the run dir per micro-batch (r15 "wrong" #1).  A
    # crash after this write but before the sidecar publish leaves a
    # record nobody consults (no sidecar → scanned).
    write_fingerprint_record(run_dir, fp)
    # Explicit schema via the shared store reader (r17 advice): the
    # build only consumes s and s_bucket, but reading the run dir with
    # partition-type inference is the same surface the r17 screen fix
    # eliminated — a numeric-like s_shard would infer int here and
    # become a trap the day SHARD_COL is consumed in the build.  The
    # shard level is read off the dirs (the same walk the row-count
    # helper does), not the caller's arguments.
    from data_ingestion_challenge_spark.streaming.admission import (
        _read_store,
    )
    sharded = any(e.is_dir() and e.name.startswith("s_shard=")
                  for e in os.scandir(run_dir))
    df = _read_store(spark, postings_dir, paths=[run_dir],
                     sharded=sharded, bucketed=True)
    hashed = (df.select(F.col("s_bucket").cast("long").alias("b"),
                        F.xxhash64("s").alias("h1"),
                        F.hash("s").alias("h2"))
              .distinct())
    # Over-cap buckets are decided from PARQUET FOOTER row counts —
    # zero Spark jobs, zero caching — and routed straight to the
    # always-hit marker: deciding inside the build UDF would first
    # materialize the whole bucket group as one pandas frame, the
    # exact memory blowup the cap exists to avoid.  Rows ≥ distinct
    # keys, so routing on rows is CONSERVATIVE: a duplicate-heavy
    # bucket may get a marker it didn't strictly need (loses some
    # skipping power), but an under-cap-by-rows bucket is provably
    # under-cap by keys.
    counts = _bucket_row_counts(run_dir)
    over = sorted(b for b, n in counts.items()
                  if n > MAX_KEYS_PER_BLOOM)
    under = (hashed.where(~F.col("b").isin(over)) if over
             else hashed)

    def _build(pdf):
        import pandas as pd
        n = len(pdf)
        b = int(pdf["b"].iloc[0])
        m = _bloom_m_bits(n)
        bits = np.zeros(m // 8, dtype=np.uint8)
        h1, h2 = _as_u64(pdf["h1"]), _as_u64(pdf["h2"])
        for lo in range(0, n, 65536):  # bound the (chunk, k) matrix
            sl = slice(lo, lo + 65536)
            _set_bits(bits, _positions(h1[sl], h2[sl], m))
        return pd.DataFrame({"b": [b], "n": [n],
                             "bits": [bits.tobytes()]})

    # STREAM the bitmaps to the driver instead of one collect(): the
    # cap bounds each bloom (≤256 MB) but not their SUM — a
    # right-sized-mod 100 TB store is mod × 256 MB, a driver OOM as
    # one list (r15 "wrong" #3).  Members are written straight into
    # the zip (npz IS a zip of .npy members) as they arrive, so peak
    # driver residency ≈ the fetched partitions' bitmaps, and the old
    # BytesIO full-payload second copy is gone with it.  Fetch
    # partitioning is sized from the data (_fetch_partitions, r17) —
    # the r16 constant 2×n_under cost ~128 serial toLocalIterator
    # round trips per fold at bench geometry, the measured bulk of
    # the admission_compact_s 2.9→10.8 s swing.
    built = (under.groupBy("b")
             .applyInPandas(_build, "b long, n long, bits binary"))
    built = built.repartition(_fetch_partitions(counts, over), "b")
    out = sidecar_path(postings_dir, tag)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = out + ".tmp"
    bs: list[int] = []
    ns: list[int] = []

    def _member(zf: zipfile.ZipFile, key: str, arr) -> None:
        with zf.open(f"{key}.npy", "w", force_zip64=True) as fh:
            np.lib.format.write_array(fh, np.asanyarray(arr),
                                      allow_pickle=False)

    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as zf:
            # prefetchPartitions: compute partition k+1 while the
            # driver writes partition k's bitmaps into the zip
            # (guide §2.6 — overlap independent work); residency
            # rises to ≤ 2 in-flight partitions, still bounded by
            # the sizing above.
            for row in built.toLocalIterator(prefetchPartitions=True):
                b = int(row["b"])
                bs.append(b)
                ns.append(int(row["n"]))
                _member(zf, f"bits_{b}",
                        np.frombuffer(row["bits"], dtype=np.uint8))
            for b in over:
                # n for a marker is the footer ROW count (≥ its key
                # count) — informational only
                bs.append(b)
                ns.append(counts[b])
                _member(zf, f"bits_{b}",
                        np.empty(0, dtype=np.uint8))
            _member(zf, "version", np.array([_FORMAT_VERSION]))
            _member(zf, "k", np.array([K_HASHES]))
            _member(zf, "fingerprint", np.array([fp]))
            _member(zf, "buckets", np.array(bs, dtype=np.int64))
            _member(zf, "counts", np.array(ns, dtype=np.int64))
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    os.replace(tmp, out)
    return True


def _tiny_members(z) -> tuple[str, list[int]] | None:
    """(embedded fingerprint, bucket ids) from a sidecar's small
    members, or None when the format markers don't match this
    module — the shared validation prefix of the screen's full load
    and the health probe's streaming summary."""
    if int(z["version"][0]) != _FORMAT_VERSION:
        return None
    if int(z["k"][0]) != K_HASHES:
        return None
    return str(z["fingerprint"][0]), [int(b) for b in z["buckets"]]


def _run_fp_matches(run_dir: str, embedded: str) -> bool:
    """Record-first fingerprint validation: one small file read on
    the happy path (the r15 screen paid an os.walk + per-file stat
    here per micro-batch — at 10⁵-10⁶ files per base run that walk
    is the dominant metadata term, multiplied by the live-run
    count); record-less runs (pre-record stores, hand-built test
    runs) keep the full walk as the fallback.  Either source
    mismatching the sidecar's embedded fingerprint degrades to a
    scan."""
    fp = stored_fingerprint(run_dir)
    if fp is None:
        fp = run_fingerprint(run_dir)
    return fp == embedded


def load_run_sidecar(postings_dir: str, tag: str) -> dict | None:
    """Parse + validate the sidecar for a run.  Returns
    {bucket: (m_bits, bits_array_or_None)} — None bits = the
    over-cap always-hit marker — or None when the sidecar is missing,
    unparsable, version-unknown, or its fingerprint no longer matches
    the run dir (tag reused by a later fold): every failure mode
    degrades to scanning the run."""
    path = sidecar_path(postings_dir, tag)
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    with _CACHE_LOCK:
        cached = _CACHE.get(key)
    if cached is None:
        try:
            with np.load(path, allow_pickle=False) as z:
                tiny = _tiny_members(z)
                if tiny is None:
                    return None
                cached = {"fingerprint": tiny[0], "blooms": {}}
                for b in tiny[1]:
                    bits = z[f"bits_{b}"]
                    if bits.size == 0:  # always-hit marker
                        cached["blooms"][b] = (0, None)
                    else:
                        cached["blooms"][b] = (int(bits.size) * 8,
                                               bits)
        except Exception:
            return None
        # Evict any prior entry for the SAME path first: fold-tag
        # reuse rewrites `-1.npz` every cadence tick, and keeping the
        # dead multi-MB bitmap dicts keyed by stale (mtime, size)
        # would grow driver memory by one sidecar per fold until the
        # count-bound clear fired — on a long-lived stream with a
        # large base run that is a driver OOM, not hygiene.
        with _CACHE_LOCK:
            for k in [k for k in _CACHE if k[0] == path]:
                del _CACHE[k]
            if len(_CACHE) > 256:
                _CACHE.clear()
            _CACHE[key] = cached
    run_dir = os.path.join(postings_dir, f"ingest_batch={tag}")
    if not _run_fp_matches(run_dir, cached["fingerprint"]):
        return None
    return cached["blooms"]


def hit_buckets(blooms: dict, h1u: np.ndarray, h2u: np.ndarray,
                bucket_of: np.ndarray) -> set[int]:
    """The (store) buckets of this run that at least one batch
    shingle may live in.  ``bucket_of`` assigns each batch shingle to
    its store bucket (pmod(hash(s), store mod)).  A bucket absent
    from ``blooms`` held NO shingles when the sidecar was built →
    never hit.  An over-cap bucket (bits
    None) is always hit."""
    out: set[int] = set()
    for b, (m, bits) in blooms.items():
        if bits is None:
            out.add(b)
            continue
        mask = bucket_of == b
        if not mask.any():
            continue
        idx = _positions(h1u[mask], h2u[mask], m)
        if _test_bits(bits, idx).any():
            out.add(b)
    return out


def sidecar_health(postings_dir: str, deep: bool = False) -> dict:
    """Coverage/efficacy summary for Engine.health_report — the
    operator-visible answer to the silent failure mode of r15's cap
    design: an undersized ``s_bucket_mod`` puts every bucket of a big
    base run over MAX_KEYS_PER_BLOOM, every bucket becomes an
    always-hit marker, and lever #2 skips NOTHING with zero signal
    anywhere.  Returns {base_runs, covered_runs, uncovered (tags with
    no VALID sidecar), buckets, overcap_buckets}; health_report turns
    these into `sidecar_coverage` and `sidecar_overcap_fraction`
    rows.  ``deep`` escalates integrity checking from the default
    O(1)-per-bucket header/size probe to a full CRC pass (see
    _summary).  Constraint (docs/SCREEN_SCALING.md "Sizing
    guidance"): rows-per-bucket ≈ store_rows / mod must stay under
    the 64 M-key cap, i.e. mod ≳ store_rows / 64e6 — at 10¹²
    posting rows that is mod ≥ ~16k, not the bench default 64."""
    from data_ingestion_challenge_spark.streaming.admission import (
        _batch_tags, _is_base,
    )

    # Streaming probe, never a bitmap in memory: tiny members
    # (version/k/fingerprint/buckets) load lazily via np.load;
    # member integrity is CRC-checked with zipfile's chunked
    # testzip() (a sidecar whose bits member is truncated/corrupt
    # would be REJECTED by the screen's load — coverage must not
    # report it healthy); marker detection parses each bits
    # member's 128-byte .npy HEADER for its shape (robust across
    # numpy header-padding versions, unlike a byte-size compare).
    # Never touches the screen's parsed-sidecar cache — at a
    # right-sized-mod store a full load here would be GBs per run
    # and could evict the warm screen entries.
    base = sorted(t for t in _batch_tags(postings_dir) if _is_base(t))
    covered: list[str] = []
    uncovered: list[str] = []
    buckets = overcap = 0

    def _bits_probe(zf: zipfile.ZipFile, name: str):
        """(is_marker, intact) from the member's .npy HEADER only:
        marker ⟺ declared shape is empty (numpy-version-proof,
        unlike a byte-size compare); intact ⟺ the ZIP_STORED member
        size equals header + declared data bytes, which catches the
        common corruption class (truncation / partial write) with
        O(1) I/O per bucket."""
        info = zf.getinfo(name)
        with zf.open(name) as fh:
            ver = np.lib.format.read_magic(fh)
            if ver == (1, 0):
                shape, _, dt = np.lib.format.read_array_header_1_0(fh)
            else:
                shape, _, dt = np.lib.format.read_array_header_2_0(fh)
            hdr = fh.tell()
        n = int(np.prod(shape)) if shape else 1
        return (n == 0,
                hdr + n * dt.itemsize == info.file_size)

    def _summary(path: str, run_dir: str):
        """(n_buckets, n_markers) for a VALID sidecar, else None.
        ``deep`` escalates member validation from the O(1)-per-
        bucket header/size check to a full chunked CRC pass
        (zipfile testzip): exact parity with what the screen's load
        would accept, at I/O ∝ sidecar bytes — TBs at a right-sized
        100 TB store, so it is opt-in.  The light probe's accepted
        residual: size-preserving in-place bit rot inside a bitmap
        reports covered here while the load's CRC rejects it and
        scans (fail-open either way — coverage is advisory, never a
        verdict input)."""
        try:
            with np.load(path, allow_pickle=False) as z:
                tiny = _tiny_members(z)
                if tiny is None:
                    return None
                emb, bs = tiny
                if deep and z.zip.testzip() is not None:
                    return None  # corrupt member → load would reject
                nm = 0
                for b in bs:
                    marker, intact = _bits_probe(z.zip,
                                                 f"bits_{b}.npy")
                    if not intact:
                        return None  # truncated → load would reject
                    nm += int(marker)
        except Exception:
            return None
        if not _run_fp_matches(run_dir, emb):
            return None
        return len(bs), nm

    for t in base:
        run_dir = os.path.join(postings_dir, f"ingest_batch={t}")
        s = _summary(sidecar_path(postings_dir, t), run_dir)
        if s is None:
            uncovered.append(t)
            continue
        covered.append(t)
        buckets += s[0]
        overcap += s[1]
    return {"base_runs": len(base), "covered_runs": len(covered),
            "uncovered": uncovered, "buckets": buckets,
            "overcap_buckets": overcap}


def drop_sidecars(postings_dir: str, tags: list[str]) -> None:
    """Remove sidecars for folded-away tags (best-effort; an orphan
    is harmless — nobody consults a sidecar whose run is gone)."""
    for t in tags:
        try:
            os.unlink(sidecar_path(postings_dir, t))
        except OSError:
            pass
