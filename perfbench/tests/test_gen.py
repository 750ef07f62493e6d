"""The generators are seeded and carry their own truth."""

import numpy as np
import pyarrow.parquet as pq

import gen
import run


def test_doc_stream_plants_near_duplicates_of_kept_originals():
    docs = gen.DocStream(9)
    drops = [docs.drop(i) for i in range(4)]
    per = gen.DOCS_PER_DROP
    n_dup = int(per * gen.DUP_SHARE)
    assert [d["doc_id"] for d in drops[1]] == list(range(per, 2 * per))
    again = gen.DocStream(9)
    assert again.drop(3) == drops[3]
    texts = {d["doc_id"]: d["text"] for drop in drops for d in drop}
    dups = [i for i in texts if i not in docs.originals]
    assert len(dups) == 4 * n_dup
    same = cross = 0
    for dup in dups:
        scores = {o: gen.jaccard(texts[o], texts[dup])
                  for o in docs.originals if o < dup}
        orig = max(scores, key=scores.get)
        assert scores[orig] >= gen.MIN_JACCARD
        same += orig // per == dup // per
        cross += orig // per < dup // per
        # no other original comes anywhere near the threshold
        assert sorted(scores.values())[-2:-1] < [0.1]
    assert same == n_dup + 3 * (n_dup - n_dup // 2)
    assert cross == 3 * (n_dup // 2)
    assert docs.kept(range(4)) == {i for i in texts if i in docs.originals}


def test_analytics_tables_truth(tmp_path):
    per_user = gen.analytics_tables(4, str(tmp_path))
    ev = pq.read_table(tmp_path / "events.parquet")
    assert sum(n for n, _ in per_user.values()) == ev.num_rows
    uid = ev["user_id"].to_numpy()
    cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    u = int(uid[0])
    assert per_user[u] == (int((uid == u).sum()), int(cents[uid == u].sum()))
    for t in ("customer", "orders", "lineitem"):
        assert pq.read_metadata(tmp_path / f"{t}.parquet").num_rows > 0


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail(list(range(19)))[1] == "p50 of n=19"
    assert run.tail(list(range(100)))[1] == "p90 of n=100"
    assert run.tail(list(range(999)))[1] == "p90 of n=999"
    assert run.tail(list(range(1000)))[1] == "p99 of n=1000"
    assert run.tail([float(i) for i in range(1, 101)])[0] == 90.1
