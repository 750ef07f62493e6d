"""The workloads.  Each is a closed loop with one client: the next
drop, query or lookup is issued only after the previous one returns.

A workload object is driven by run.py in this order: ``generate`` (the
benchmark's own input generation, outside every measurement),
``setup`` several times into fresh state, ``warm`` once, ``step`` in
whole cycles until the measured seconds are spent and at least
``fixed_cycles`` cycles are done, then ``verify``.  Each step
returns the units of work it completed and appends its latencies to
``self.op_ms`` / ``self.read_ms``; a step that raises or whose output
disagrees with the generator's truth is a failed operation."""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np

import gen


class Workload:
    name = ""
    # Operations per cycle: a run measures whole cycles, and a traced
    # run traces every other cycle.
    cycle = 1
    # Cycles every run measures, however slow the host: the CPU cost is
    # taken over exactly these, because the JVM keeps getting cheaper
    # per operation for minutes and a slow run would otherwise be
    # charged for fewer, less warmed-up cycles.
    fixed_cycles = 1

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.tracer = tracer
        self.op_ms: list[float] = []
        self.read_ms: list[float] = []
        self.busy_s = 0.0          # wall seconds of the timed drains
        self.units = 0
        self.failed = 0
        self.attempted = 0
        self.progress: list = []   # streaming progress events, traced runs
        self.kind = ""             # what the last step did, for overhead

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.root, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"{self.name}: {what} disagrees with truth",
                  file=sys.stderr, flush=True)

    def warm(self) -> None:
        """One untimed cycle down the timed path, so that every code path
        the timed cycles take (a fold too) has run once."""
        for _ in range(self.cycle):
            self.step()

    def reset_samples(self) -> None:
        """Forget the warm-up's latencies; counts and truth stay."""
        self.op_ms.clear()
        self.read_ms.clear()
        self.busy_s = 0.0

    def layer_metrics(self) -> dict:
        return {}


def _txn_state(table, rows: int) -> dict:
    """Run ladder, live files and on-disk bytes per ingested document."""
    stats = table.table_stats()
    size = 0
    for dirpath, _, files in os.walk(table.path):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return {"txn.run_generations": table.run_generations(),
            "txn.live_files": stats["n_files"],
            "txn.bytes_per_doc": size / rows}


# ---------------------------------------------------------------- analytics

MIX = ("hourly_user_events", "hourly_distinct_users", "top_users",
       "top_users_by_type", "event_type_breakdown", "daily_revenue",
       "json_props_extract", "sessionize", "user_activity_gini",
       "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue")
# As many lookups as bench.py's _point_lookup_latency times per series.
LOOKUPS_PER_QUERY = 40


class Analytics(Workload):
    """A seeded-order mix of registered queries to a noop sink, with
    point lookups against a per-user serving rollup between queries."""

    name = "analytics"
    cycle = len(MIX)       # whole mixes only: the query p50 must not
    #                        depend on which queries a partial mix held
    fixed_cycles = 2       # what a calm box completes in --seconds 10

    def generate(self) -> None:
        self.data = self.dir("data")
        self.per_user = gen.analytics_tables(self.seed, self.data)
        self.users = np.array(sorted(self.per_user))
        self.rng = np.random.default_rng([self.seed, 4])
        self.order: list[str] = []
        self.publish_s: list[float] = []
        self.results: dict[str, tuple[list, list]] = {}
        self.query_ms: dict[str, list[float]] = {q: [] for q in MIX}

    def setup(self, k: int) -> None:
        from pyspark.sql import functions as F

        from data_ingestion_challenge_spark import serving
        from data_ingestion_challenge_spark.catalog import Catalog
        ev = Catalog(self.spark, self.data).events
        rollup = ev.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
            .alias("value_sum_micros"))
        self.serving_table = f"perfbench_user_rollup_{k}"
        t0 = time.perf_counter()
        serving.build_keyed_rollup(rollup, self.serving_table,
                                   self.dir(f"serving{k}"), key="user_id")
        self.publish_s.append(time.perf_counter() - t0)

    def warm(self) -> None:
        """One cold pass collecting every mix query (the results are
        kept for the oracle check after the timed loop), then one mix
        down the timed path: the noop-sink writes generate code of
        their own, which would otherwise land in the first timed mix."""
        from data_ingestion_challenge_spark.plans import QUERIES
        for q in MIX:
            df = QUERIES[q](self.spark, self.data)
            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
        super().warm()

    def _next_query(self) -> str:
        if not self.order:
            self.order = [MIX[j] for j in self.rng.permutation(len(MIX))]
        return self.order.pop()

    def _lookup(self) -> None:
        from data_ingestion_challenge_spark import serving
        user = int(self.users[self.rng.integers(len(self.users))])
        t0 = time.perf_counter()
        rows = serving.point_lookup_fast(self.spark, self.serving_table,
                                         "user_id", user)
        self.read_ms.append(1000 * (time.perf_counter() - t0))
        n, cents = self.per_user[user]
        self.check([(r.n_events, r.value_sum_micros) for r in rows]
                   == [(n, cents * 10_000)], f"lookup of user {user}")

    def step(self) -> int:
        from data_ingestion_challenge_spark.plans import QUERIES
        q = self.kind = self._next_query()
        t0 = time.perf_counter()
        with self.tracer.span(f"plans.{q}"):
            with self.tracer.span("plans.plan"):
                df = QUERIES[q](self.spark, self.data)
                if self.tracer.enabled:
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
        ms = 1000 * (time.perf_counter() - t0)
        self.op_ms.append(ms)
        self.query_ms[q].append(ms)
        self.attempted += 1
        for _ in range(LOOKUPS_PER_QUERY):
            self._lookup()
        return 1

    def verify(self) -> None:
        import duckdb

        from data_ingestion_challenge_spark.plans import QUERIES
        con = duckdb.connect()
        for t in ("events", "customer", "orders", "lineitem"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data, t)}.parquet'")
        for q in MIX:
            got = _canon(*self.results[q])
            rel = con.sql(QUERIES[q].oracle)
            self.check(got == _canon(rel.columns, rel.fetchall()),
                       f"query {q} vs its oracle")

    def reset_samples(self) -> None:
        super().reset_samples()
        for v in self.query_ms.values():
            v.clear()

    def layer_metrics(self) -> dict:
        out = {f"plans.{q}_ms": _median(v) for q, v in self.query_ms.items()}
        out["serving.publish_s"] = _median(self.publish_s)
        return out


def _canon(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order and floats rounded to 6 places,
    sorted: the comparison the repository's oracle gate uses."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


# ----------------------------------------------------------- doc_admission

# The cadence of the repository's own multi-batch admission runs:
# bench.py's multi-drop scenario, the streaming_admission_e2e query
# (SURVEY.md) and the admission cadence tests all use compact_every=2.
COMPACT_EVERY = 2


class DocAdmission(Workload):
    """Document drops drained one at a time through
    Engine.ingest_documents with a sizes store and a compaction cadence;
    after each drain the drop's admitted ids are read back from the
    corpus table and compared with the planted originals."""

    name = "doc_admission"
    cycle = COMPACT_EVERY  # whole fold cycles: every run holds as many
    #                        folding drains as plain ones

    def generate(self) -> None:
        self.docs = gen.DocStream(self.seed)
        self.next_drop = 0

    def setup(self, k: int) -> None:
        from data_ingestion_challenge_spark.api import Engine
        from data_ingestion_challenge_spark.streaming import admission
        base = f"setup{k}"
        self.d = {n: os.path.join(self.root, base, n)
                  for n in ("table", "postings", "log", "sizes", "ckpt")}
        self.watch = self.dir(base, "watch")
        self.engine = Engine(self.root, spark=self.spark)
        _, self.table = admission.document_admission_sink(
            self.spark, self.d["table"], self.d["postings"], self.d["log"],
            sizes_dir=self.d["sizes"])

    def step(self) -> int:
        i = self.next_drop
        self.next_drop += 1
        self.kind = f"drain {i % COMPACT_EVERY}"
        drop = self.docs.drop(i)
        staged = os.path.join(self.dir("stage"), f"drop{i:06d}.jsonl")
        gen.write_jsonl(drop, staged)
        t0 = time.perf_counter()
        # atomic landing of the fully written drop file
        os.rename(staged, os.path.join(self.watch, os.path.basename(staged)))
        self.table = self.engine.ingest_documents(
            self.watch, self.d["table"], self.d["postings"], self.d["log"],
            self.d["ckpt"], sizes_dir=self.d["sizes"],
            compact_every=COMPACT_EVERY)
        t1 = time.perf_counter()
        lo, hi = drop[0]["doc_id"], drop[-1]["doc_id"]
        kept = {r[0] for r in self.table.read()
                .where(f"doc_id BETWEEN {lo} AND {hi}")
                .select("doc_id").collect()}
        t2 = time.perf_counter()
        self.op_ms.append(1000 * (t1 - t0))
        self.read_ms.append(1000 * (t2 - t1))
        self.busy_s += t1 - t0
        self.check(kept == self.docs.kept(range(i, i + 1)),
                   f"admitted ids of drop {i}")
        return len(drop)

    def verify(self) -> None:
        kept = {r[0] for r in self.table.read().select("doc_id").collect()}
        self.check(kept == self.docs.kept(range(self.next_drop)),
                   "whole corpus")

    def layer_metrics(self) -> dict:
        n_docs = self.next_drop * gen.DOCS_PER_DROP
        kept = self.table.read().count()
        stats = self.engine.posting_store_stats(
            self.d["postings"], table_path=self.d["table"],
            sizes_dir=self.d["sizes"])
        files = 0
        for run in stats["runs"]:
            for _, _, fs in os.walk(os.path.join(
                    self.d["postings"], f"ingest_batch={run['tag']}")):
                files += sum(f.endswith(".parquet") for f in fs)
        out = _txn_state(self.table, n_docs)
        out.update({"admission.posting_files": files,
                    "admission.kept_ratio": kept / n_docs})
        return out


def _median(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


WORKLOADS = {w.name: w for w in (Analytics, DocAdmission)}
