"""Round-10/11 registration candidates: built, oracle-twinned, and
parity-tested now; driver registration deferred to keep the
verify-window rotation draining (SURVEY §7 budget).  Five ops:
label_outlier_vectors (embedding-space mislabel audit),
bpe_merge_candidates (BPE tokenizer merge-selection step 1),
power_user_concentration (Pareto head audit via distributed ntile),
hourly_anomaly_mad (robust median/MAD volume monitor), and
user_event_type_entropy (behavioral-diversity bot smell)."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR
from tests.test_r9_candidates import _compare


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * "
                f"FROM '{SF_DIR}/{t}.parquet'")
    return con


# --------------------------------------------- label-outlier audit

def test_label_outlier_vectors_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.embstats import (
        label_outlier_oracle_sql, label_outlier_vectors,
    )
    sdf = label_outlier_vectors(cat.embeddings, k=25)
    rows = _compare(sdf, duck, label_outlier_oracle_sql(k=25))
    assert len(rows) == 25


def test_label_outlier_hand_case(spark):
    """The vector opposing its label centroid ranks first (cos −1);
    aligned vectors score +cos; an all-zero vector is filtered, not
    a div-0 or a NULL row."""
    from data_ingestion_challenge_spark.operators.embstats import (
        label_outlier_vectors,
    )
    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),
            (3, [-1.0, 0.0], 0), (4, [0.0, 0.0], 0),
            (5, [0.0, 2.0], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = label_outlier_vectors(emb, k=10).collect()
    assert [r.vec_id for r in out] == [3, 1, 2, 5]
    assert out[0].cos_centroid == -1.0
    assert out[0].rank == 1
    assert out[-1].cos_centroid == 1.0


# ------------------------------------------------ BPE merge mining

def test_bpe_merge_candidates_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.collocation import (
        bpe_merge_candidates, bpe_oracle_sql,
    )
    sdf = bpe_merge_candidates(cat.documents, k=25)
    rows = _compare(sdf, duck, bpe_oracle_sql(k=25))
    assert 0 < len(rows) <= 25


def test_bpe_hand_case(spark):
    """Pair counts are word-frequency-weighted and overlapping:
    'aaab' ×2 docs → (a,a) appears 2/word × 2 words = 4, (a,b) 2.
    Single-char words contribute nothing."""
    from data_ingestion_challenge_spark.operators.collocation import (
        bpe_merge_candidates,
    )
    docs = spark.createDataFrame(
        [(1, "aaab x"), (2, "aaab x")], "doc_id long, text string")
    out = {(r.left, r.right): r for r in
           bpe_merge_candidates(docs, k=10).collect()}
    assert out[("a", "a")].cnt == 4
    assert out[("a", "b")].cnt == 2
    assert out[("a", "a")].rank == 1
    assert ("x", "x") not in out


# ------------------------------------------- Pareto concentration

def test_power_user_concentration_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.stats import (
        POWER_USER_CONCENTRATION_ORACLE, power_user_concentration,
    )
    sdf = power_user_concentration(cat.events)
    rows = _compare(sdf, duck, POWER_USER_CONCENTRATION_ORACLE)
    assert len(rows) == 1
    r = sdf.collect()[0]
    assert 0 < r.share_top1 <= r.share_top5 <= r.share_top10 <= 1


def test_power_user_concentration_hand_case(spark):
    """200 users: one with 100 events, 199 with 1 → ntile(100) puts 2
    users per centile; top-1% = the whale + one singleton = 101/299
    of the event mass."""
    from datetime import datetime

    from data_ingestion_challenge_spark.operators.stats import (
        power_user_concentration,
    )
    ts = datetime(2024, 1, 1)
    rows = [(u, ts) for u in range(1, 201)]
    rows += [(1, ts)] * 99
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    r = power_user_concentration(ev).collect()[0]
    assert r.n_users == 200 and r.total_events == 299
    assert r.share_top1 == round(101 / 299, 6)
    assert r.share_top10 == round((100 + 19) / 299, 6)


# --------------------------------------------- robust MAD monitor

def test_hourly_anomaly_mad_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.stats import (
        HOURLY_ANOMALY_MAD_ORACLE, hourly_anomaly_mad,
    )
    sdf = hourly_anomaly_mad(cat.events)
    rows = _compare(sdf, duck, HOURLY_ANOMALY_MAD_ORACLE)
    assert len(rows) >= 1


def test_hourly_anomaly_mad_hand_case(spark):
    """Four steady hours and one 10× flood: median 1, MAD 0 — the
    flood is flagged (dev 9 > 0), robust_z is NULL (nullif guard),
    and the steady hours stay unflagged.  A mean/stddev monitor's
    threshold would have been dragged up by the flood itself."""
    from datetime import datetime

    from data_ingestion_challenge_spark.operators.stats import (
        hourly_anomaly_mad,
    )
    rows = []
    for h in range(4):
        rows.append((1, datetime(2024, 1, 1, h), "click"))
    rows += [(1, datetime(2024, 1, 1, 4), "click")] * 10
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = {r.hour_ts.hour: r for r in hourly_anomaly_mad(ev).collect()}
    assert out[4].is_anomaly == 1 and out[4].robust_z is None
    assert all(out[h].is_anomaly == 0 for h in range(4))
    assert out[4].med == 1.0 and out[4].mad == 0.0


# --------------------------------------------- behavioral entropy

def test_user_event_type_entropy_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.stats import (
        USER_EVENT_TYPE_ENTROPY_ORACLE, user_event_type_entropy,
    )
    sdf = user_event_type_entropy(cat.events)
    rows = _compare(sdf, duck, USER_EVENT_TYPE_ENTROPY_ORACLE)
    assert len(rows) == cat.events.select("user_id").distinct().count()


def test_user_event_type_entropy_hand_case(spark):
    """50/50 over two types = exactly 1 bit; single-type = 0 bits;
    a 3-type uniform user = log2(3) bits."""
    from datetime import datetime

    from data_ingestion_challenge_spark.operators.stats import (
        user_event_type_entropy,
    )
    ts = datetime(2024, 1, 1)
    rows = ([(1, ts, "a"), (1, ts, "b")]
            + [(2, ts, "a")] * 5
            + [(3, ts, "a"), (3, ts, "b"), (3, ts, "c")])
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = {r.user_id: r for r in user_event_type_entropy(ev).collect()}
    assert out[1].entropy_bits == 1.0 and out[1].n_types == 2
    assert out[2].entropy_bits == 0.0 and out[2].n_events == 5
    assert abs(out[3].entropy_bits - 1.584963) < 1e-6


# ------------------------------------------- posting-store audit

def test_shingle_df_distribution_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.dedup import (
        shingle_df_distribution, shingle_df_oracle_sql,
    )
    from data_ingestion_challenge_spark.plans.llm import _SH_CTE
    sdf = shingle_df_distribution(cat.documents, n=3)
    rows = _compare(sdf, duck, shingle_df_oracle_sql(_SH_CTE))
    assert len(rows) >= 1


def test_shingle_df_hand_case(spark):
    """Three copies of one doc → every shingle has df 3 (bucket 1);
    a unique doc's shingles land in bucket 0; per-doc DISTINCT
    shingles mean internal repeats don't inflate df."""
    from data_ingestion_challenge_spark.operators.dedup import (
        shingle_df_distribution,
    )
    base = "a b c d e"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base), (4, "x y z w v")],
        "doc_id long, text string")
    out = {r.df_bucket: r for r in
           shingle_df_distribution(docs).collect()}
    assert out[1].n_shingles == 3 and out[1].total_postings == 9
    assert out[0].n_shingles == 3 and out[0].total_postings == 3


# --------------------------------------------- PQ subspace audit

def test_pq_subspace_variance_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.embstats import (
        pq_subspace_oracle_sql, pq_subspace_variance,
    )
    sdf = pq_subspace_variance(cat.embeddings, m=8)
    rows = _compare(sdf, duck, pq_subspace_oracle_sql(m=8))
    assert len(rows) == 8
    for r in sdf.collect():
        assert r.n_dims == 8 and r.var_total >= 0


def test_pq_subspace_hand_case(spark):
    """d=4, m=2: dims 0-1 vary (var 0.25 each), dims 2-3 constant —
    subspace 0 carries 0.5, subspace 1 exactly 0."""
    from data_ingestion_challenge_spark.operators.embstats import (
        pq_subspace_variance,
    )
    rows = [(1, [0.0, 0.0, 7.0, 7.0]), (2, [1.0, 1.0, 7.0, 7.0])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    out = {r.subspace: r for r in
           pq_subspace_variance(emb, m=2).collect()}
    assert out[0].var_total == 0.5
    assert out[1].var_total == 0.0
    assert out[0].n_dims == 2


# --------------------------------------------- monthly seasonality

def test_monthly_order_growth_matches_oracle(spark, cat, duck):
    from data_ingestion_challenge_spark.operators.stats import (
        MONTHLY_ORDER_GROWTH_ORACLE, monthly_order_growth,
    )
    sdf = monthly_order_growth(cat.orders)
    rows = _compare(sdf, duck, MONTHLY_ORDER_GROWTH_ORACLE)
    assert len(rows) >= 2


def test_monthly_order_growth_hand_case(spark):
    """Revenue 100 → 150 is +0.5 growth; the first month's growth is
    NULL (no prior month), and revenue follows the exact-decimal sum
    (0.1-cent inputs don't wobble)."""
    from datetime import datetime

    from data_ingestion_challenge_spark.operators.stats import (
        monthly_order_growth,
    )
    rows = [(1, datetime(2024, 1, 5), 60.0),
            (2, datetime(2024, 1, 20), 40.0),
            (3, datetime(2024, 2, 1), 150.0)]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, "
              "o_totalprice double")
    out = sorted(monthly_order_growth(o).collect(),
                 key=lambda r: r.month)
    assert out[0].rev_growth is None and out[0].revenue == 100.0
    assert out[1].rev_growth == 0.5 and out[1].n_orders == 1
