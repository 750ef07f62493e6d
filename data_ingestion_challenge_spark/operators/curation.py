"""Corpus-curation operators (round-6 registration candidates).

Three operators a large-scale training-data pipeline needs beyond the
already-registered curation surface (SURVEY §2C):

- ``reservoir_sample``: deterministic fixed-size uniform sample via
  md5-rank top-n.  ``df.sample()`` gives a *rate*, not a size, and is
  non-deterministic across retries; a true streaming reservoir keeps
  driver state.  Ranking every row by a salted hash and taking the n
  smallest is equivalent to a uniform without-replacement draw, is
  idempotent across re-ingests, and compiles to
  TakeOrderedAndProject — map-side partial top-n per partition, one
  single-pass reduce of n·n_partitions pre-filtered rows.  No full
  sort, no shuffle of the data itself: linear at 100 TB for the n a
  human asks for (≤ millions).

- ``token_share_drift``: per-source token-share comparison between two
  corpus snapshots (curation diffing — "did this re-crawl shift the
  mixture?").  Two map-side-combined aggregations on ``source`` (low
  cardinality) + a full outer join of two tiny aggregates; the join is
  broadcast by AQE.  Linear in corpus size, constant in output.

- ``chunk_windows``: overlapping fixed-size token windows per document
  (long-context training chunking, Pile/RedPajama style).  Pure
  per-row Catalyst explode — ``sequence`` over chunk starts, ``slice``
  + ``array_join`` per window — so it needs NO shuffle at all and
  whole-stage codegen keeps it JVM-side; output scales by the overlap
  factor ≈ n_tokens / stride, which is the data a trainer actually
  consumes.

Each operator ships with its DuckDB oracle (``ORACLE_*``) so round 6
can register them as driver-gated queries verbatim; until then
tests/test_curation.py runs the same comparison locally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from data_ingestion_challenge_spark.functions.hashing import h32

# --------------------------------------------------------------- sample

def reservoir_sample(df: DataFrame, key: str, n: int,
                     salt: str = "res") -> DataFrame:
    """Deterministic uniform without-replacement sample of exactly
    min(n, |df|) rows: rank every row by a salted md5 of its key and
    keep the n smallest.

    The plan is TakeOrderedAndProject (verified in
    tests/test_curation.py): each task keeps its local n smallest —
    O(rows) work, O(n) memory — and the driver merges n·n_tasks
    candidates.  Equivalent to assigning each row an i.i.d. uniform
    draw and taking the n smallest, i.e. a uniform reservoir, but
    replayable: the same key set always yields the same sample.
    """
    rank = h32(F.concat(F.lit(salt + ":"), col(key).cast("string")))
    return (df.withColumn("sample_rank", rank)
            .orderBy("sample_rank", key)
            .limit(n))


def oracle_reservoir_sample(table: str, key: str, n: int,
                            salt: str = "res",
                            cols: str = "*") -> str:
    """DuckDB twin: identical md5-rank, identical tie-break."""
    rank = (f"('0x' || substr(md5('{salt}:' || {key}::VARCHAR), 1, 8))"
            f"::BIGINT")
    return (f"SELECT {cols}, {rank} AS sample_rank FROM {table} "
            f"ORDER BY sample_rank, {key} LIMIT {n}")


# ---------------------------------------------------------------- drift

def token_share_drift(snap_a: DataFrame, snap_b: DataFrame,
                      by: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-``by``-group token share in each snapshot and the drift
    between them: share delta and log2 ratio (the number a curation
    review reads — "web doubled its share").  Groups absent from one
    snapshot surface with share 0 there (full outer join), which is
    exactly the "new source appeared / source vanished" signal.

    Token counting matches the registered token_counts op (whitespace
    split).  Both aggregations are map-side partial on a low-cardinality
    key; at 100 TB this is two linear scans + a broadcast-sized join.
    """
    def _shares(df: DataFrame, out: str) -> DataFrame:
        toks = F.size(F.split(col(text_col), " "))
        agg = df.groupBy(by).agg(
            F.sum(toks).cast("bigint").alias(f"{out}_tokens"))
        total = F.sum(f"{out}_tokens").over(Window.partitionBy())
        return agg.withColumn(
            f"{out}_share", F.round(col(f"{out}_tokens") / total, 4))

    a = _shares(snap_a, "a")
    b = _shares(snap_b, "b")
    joined = a.join(b, by, "full_outer").fillna(
        {"a_tokens": 0, "b_tokens": 0, "a_share": 0.0, "b_share": 0.0})
    return (joined
            .withColumn("share_delta",
                        F.round(col("b_share") - col("a_share"), 4))
            .withColumn(
                "log2_ratio",
                F.when((col("a_share") > 0) & (col("b_share") > 0),
                       F.round(F.log2(col("b_share") / col("a_share")),
                               4)))
            .orderBy(by))


def oracle_token_share_drift(table_a: str, table_b: str,
                             by: str = "source") -> str:
    """DuckDB twin of token_share_drift (whitespace token count)."""
    def _cte(t: str, o: str) -> str:
        return (f"{o} AS (SELECT {by}, CAST(sum(len(string_split(text, "
                f"' '))) AS BIGINT) AS {o}_tokens, round(sum(len("
                f"string_split(text, ' '))) / sum(sum(len(string_split("
                f"text, ' ')))) OVER (), 4) AS {o}_share FROM {t} "
                f"GROUP BY {by})")
    return f"""
    WITH {_cte(table_a, 'a')}, {_cte(table_b, 'b')}
    SELECT coalesce(a.{by}, b.{by}) AS {by},
           coalesce(a_tokens, 0) AS a_tokens,
           coalesce(a_share, 0.0) AS a_share,
           coalesce(b_tokens, 0) AS b_tokens,
           coalesce(b_share, 0.0) AS b_share,
           round(coalesce(b_share, 0.0) - coalesce(a_share, 0.0), 4)
               AS share_delta,
           CASE WHEN coalesce(a_share, 0) > 0
                 AND coalesce(b_share, 0) > 0
                THEN round(log2(b_share / a_share), 4) END AS log2_ratio
    FROM a FULL OUTER JOIN b ON a.{by} = b.{by}
    ORDER BY {by}
    """


# ------------------------------------------------------------- chunking

def chunk_windows(docs: DataFrame, chunk_tokens: int = 64,
                  stride: int | None = None,
                  text_col: str = "text") -> DataFrame:
    """Split each document into overlapping ``chunk_tokens``-token
    windows advancing by ``stride`` (default: chunk_tokens, i.e. no
    overlap) — the chunking step that turns raw documents into
    long-context training sequences.

    Emits (doc_id, chunk_id, start_token, n_tokens, chunk_text); the
    final partial window is kept iff it starts before the token count
    (so every token lands in ≥1 chunk and no empty chunks emit).
    Entirely Catalyst (split → sequence → explode → slice →
    array_join): per-row work, zero shuffle, whole-stage codegen.
    """
    stride = stride or chunk_tokens
    toks = F.split(col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0),
        F.greatest(n - 1, F.lit(0)),
        F.lit(stride))
    ex = (docs
          .select("doc_id", toks.alias("_toks"), n.alias("_n"),
                  F.explode(starts).alias("start_token")))
    window = F.slice(col("_toks"), col("start_token") + 1,
                     chunk_tokens)
    return (ex
            .where(col("start_token") < col("_n"))
            .select(
                "doc_id",
                (col("start_token") / stride).cast("bigint")
                .alias("chunk_id"),
                "start_token",
                F.least(F.lit(chunk_tokens),
                        col("_n") - col("start_token"))
                .cast("bigint").alias("n_tokens"),
                F.array_join(window, " ").alias("chunk_text")))


def oracle_chunk_windows(table: str, chunk_tokens: int = 64,
                         stride: int | None = None) -> str:
    """DuckDB twin: unnest(range(...)) over chunk starts,
    list_slice + array_to_string per window."""
    stride = stride or chunk_tokens
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n
               FROM {table}),
    s AS (SELECT doc_id, toks, n,
                 unnest(range(0, greatest(n, 1), {stride}))
                     AS start_token
          FROM t)
    SELECT doc_id,
           CAST(start_token / {stride} AS BIGINT) AS chunk_id,
           start_token,
           CAST(least({chunk_tokens}, n - start_token) AS BIGINT)
               AS n_tokens,
           array_to_string(
               list_slice(toks, start_token + 1,
                          start_token + {chunk_tokens}), ' ')
               AS chunk_text
    FROM s WHERE start_token < n
    """


# ------------------------------------------------------------ snapshot diff

def snapshot_diff(snap_a: DataFrame, snap_b: DataFrame,
                  key: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Corpus-snapshot diff: per key, whether the doc was added,
    removed, changed (content hash differs) or unchanged between two
    snapshots — the first artifact a re-crawl review reads, and the
    input to incremental downstream recompute (only added/changed
    docs need re-processing).

    One full outer join on the key, comparing md5(text) — both sides
    hash map-side, the join shuffles (key, 32-byte hash) only, never
    the text payload.  Linear at 100 TB.

    Presence rides explicit flags, NOT hash nullness: a doc present
    with NULL text must read changed/unchanged, never added/removed.
    NULL text hashes as '' on both engines so the comparison is
    total (two NULL texts are 'unchanged').
    """
    h = F.coalesce(F.md5(col(text_col)), F.lit(""))
    a = snap_a.select(col(key), h.alias("_ha"),
                      F.lit(True).alias("_ina"))
    b = snap_b.select(col(key), h.alias("_hb"),
                      F.lit(True).alias("_inb"))
    status = (F.when(col("_ina").isNull(), "added")
              .when(col("_inb").isNull(), "removed")
              .when(col("_ha") == col("_hb"), "unchanged")
              .otherwise("changed"))
    return (a.join(b, key, "full_outer")
            .select(col(key), status.alias("status"))
            .orderBy(key))


def oracle_snapshot_diff(table_a: str, table_b: str,
                         key: str = "doc_id") -> str:
    """DuckDB twin of snapshot_diff."""
    return f"""
    SELECT coalesce(a.{key}, b.{key}) AS {key},
           CASE WHEN a.{key} IS NULL THEN 'added'
                WHEN b.{key} IS NULL THEN 'removed'
                WHEN coalesce(md5(a.text), '')
                     = coalesce(md5(b.text), '') THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM {table_a} a FULL OUTER JOIN {table_b} b
      ON a.{key} = b.{key}
    ORDER BY {key}
    """


# ------------------------------------------------------------- novelty

def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a doc's distinct word
    n-grams that appear in NO other document — the inverse-duplication
    signal a curation pass uses to up-weight genuinely novel content
    (near-dups and boilerplate score ~0).

    Shares the dedup family's posting formulation: postings → global
    document frequency (groupBy+join, map-side combined and skew-safe
    exactly as build_prefix's df stage) → per-doc aggregate.  Docs
    shorter than n words have no shingles and emit n_grams = 0 with
    NULL novelty.  Linear; one shuffle on the shingle, one on doc_id.
    Computed when called (checkpoint-backed), so it leaves no cached
    frame behind.
    """
    from data_ingestion_challenge_spark.operators.dedup import _postings

    posting = _postings(docs, n)
    dfreq = posting.groupBy("s").agg(F.count("*").alias("_df"))
    per_doc = (posting.join(dfreq, "s")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_grams"),
                    F.sum((col("_df") == 1).cast("long"))
                    .alias("n_novel")))
    out = (docs.select("doc_id")
           .join(per_doc, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                   F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
                   F.round(col("n_novel") / col("n_grams"), 4)
                   .alias("novelty"))
           .orderBy("doc_id"))
    # The persisted postings feed both the df agg and the per-doc
    # join; release them once the result is materialized, as
    # incremental_dedup_verdict does.
    out = out.localCheckpoint()
    posting.unpersist()
    return out


def oracle_ngram_novelty(table: str = "documents", n: int = 3) -> str:
    """DuckDB twin of ngram_novelty (distinct word n-grams, df=1 ⇒
    novel)."""
    return f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM {table}),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                      range(1, greatest(len(w) - {n - 2}, 1)),
                      i -> array_to_string(w[i:i+{n - 1}], ' '))))
                      AS s
           FROM d),
    df AS (SELECT s, count(*) AS _df FROM sh GROUP BY s),
    per_doc AS (SELECT sh.doc_id, count(*) AS n_grams,
                       CAST(sum(CASE WHEN _df = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_novel
                FROM sh JOIN df ON sh.s = df.s
                GROUP BY sh.doc_id)
    SELECT t.doc_id,
           CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
           round(n_novel / n_grams, 4) AS novelty
    FROM {table} t LEFT JOIN per_doc ON t.doc_id = per_doc.doc_id
    ORDER BY t.doc_id
    """


# ------------------------------------------------------ dataset card

def dataset_card(documents: DataFrame) -> DataFrame:
    """Per-source "data card" summary — the one-page table a dataset
    release ships (datasheet/data-statement practice): doc and token
    counts, language spread with the dominant language, exact-dup
    share, and mean doc length.  One row per source.

    All aggregates are exact integer arithmetic plus single rounded
    divisions, so the DuckDB twin matches value-exactly; top_lang
    ties break alphabetically in both engines.

    Scale shape: two map-side-combined aggregations over one narrow
    scan (per-source, per-(source, lang)) — result is
    |sources|-sized; nothing shuffles more than once."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    base = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(col("text"), " "))).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct(F.md5(col("text"))).alias("_uniq"),
        F.sum("n_chars").alias("_chars"))
    # asc_nulls_last: Spark ASC puts NULLs first, DuckDB puts them
    # last — a NULL lang tied with a real one would pick different
    # winners per engine without the explicit ordering.
    w = Window.partitionBy("source").orderBy(
        col("_lc").desc(), col("lang").asc_nulls_last())
    top = (documents.groupBy("source", "lang")
           .agg(F.count("*").alias("_lc"))
           .withColumn("_rk", F.row_number().over(w))
           .where(col("_rk") == 1)
           .select("source", col("lang").alias("top_lang")))
    return (base.join(top, "source")
            .select("source", "n_docs", "n_tokens", "n_langs",
                    "top_lang",
                    F.round((col("n_docs") - col("_uniq"))
                            / col("n_docs").cast("double"), 4)
                    .alias("dup_ratio"),
                    F.round(col("_chars")
                            / col("n_docs").cast("double"), 2)
                    .alias("avg_chars")))


ORACLE_DATASET_CARD = """
WITH base AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT md5(text)) AS uniq,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source),
top AS (
    SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                   ORDER BY count(*) DESC, lang) AS rk
        FROM documents GROUP BY source, lang)
    WHERE rk = 1)
SELECT base.source, n_docs, n_tokens, n_langs, top_lang,
       round((n_docs - uniq) / CAST(n_docs AS DOUBLE), 4) AS dup_ratio,
       round(chars / CAST(n_docs AS DOUBLE), 2) AS avg_chars
FROM base JOIN top USING (source)
"""
