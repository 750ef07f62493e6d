"""Seeded input generators.  Every generator returns its inputs together
with the truth the benchmark checks the program's outputs against; the
program under test only ever sees the files written from them.

All sizes are module constants so that one seed always yields the same
bytes."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
T0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _events(rng: np.random.Generator, n: int, t_lo_us: int, t_hi_us: int,
            n_users: int) -> dict:
    """n events with Zipf-skewed user ids, ~5% of them 1-5 h
    older than the window [t_lo_us, t_hi_us) they arrive in, and a
    props JSON payload.  Values are whole cents, so the program's
    integer-micro sums are exact and the truth is cents * 10_000."""
    ts = np.sort(rng.integers(t_lo_us, t_hi_us, n))
    late = rng.random(n) < 0.05
    ts = ts - late * rng.integers(HOUR_US, 5 * HOUR_US + 1, n)
    users = np.minimum(rng.zipf(1.3, n), n_users)
    types = rng.choice(len(EVENT_TYPES), n, p=[.5, .3, .1, .05, .05])
    cents = rng.integers(1, 10_000, n)
    ks = rng.integers(0, 100, n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts, "user_id": users.astype(np.int64),
        "event_type": types, "cents": cents, "k": ks}


def _events_table(ev: dict) -> pa.Table:
    return pa.table({
        "event_id": ev["event_id"],
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": ev["user_id"],
        "event_type": [EVENT_TYPES[i] for i in ev["event_type"]],
        "value": ev["cents"] / 100.0,
        "props": [json.dumps({"k": int(k), "src": "web" if k % 3 else "app"})
                  for k in ev["k"]]}, schema=EVENTS_SCHEMA)


# ---------------------------------------------------------- analytics

# Row counts, user count and time span of the sf0.01 tables that
# TESTDATA.md describes (10,000 events from 150 users over 30 days;
# 1,500 customers; 15,000 orders with ~60,000 line items), the scale
# at which the repository's DuckDB oracle gate runs the same queries.
ANALYTICS_EVENTS = 10_000
ANALYTICS_USERS = 150
ANALYTICS_DAYS = 30
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY_US = 24 * HOUR_US
_D1992_US = 694_224_000_000_000        # 1992-01-01T00:00:00Z
_D1995_06_17_US = 803_347_200_000_000  # TPC-H return-flag cut-over


def analytics_tables(seed: int, out_dir: str) -> dict[int, tuple[int, int]]:
    """Write events, customer, orders and lineitem parquet files under
    out_dir (the shape the registered queries read) and return the
    per-user truth {user_id: (n_events, value_sum_cents)}."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    ev = _events(rng, ANALYTICS_EVENTS, T0_US,
                 T0_US + ANALYTICS_DAYS * _DAY_US, ANALYTICS_USERS)
    pq.write_table(_events_table(ev), os.path.join(out_dir, "events.parquet"))
    n_ev = np.bincount(ev["user_id"], minlength=ANALYTICS_USERS + 1)
    s_ev = np.bincount(ev["user_id"], weights=ev["cents"],
                       minlength=ANALYTICS_USERS + 1)
    per_user = {int(u): (int(n_ev[u]), int(round(s_ev[u])))
                for u in np.flatnonzero(n_ev)}

    cust = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    pq.write_table(pa.table({
        "c_custkey": cust,
        "c_name": [f"Customer#{c:09d}" for c in cust],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0,
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, len(SEGMENTS), N_CUSTOMERS)],
    }), os.path.join(out_dir, "customer.parquet"))

    okey = np.arange(1, N_ORDERS + 1, dtype=np.int64) * 4
    odate = _D1992_US + rng.integers(0, 2_405, N_ORDERS) * _DAY_US
    nlines = rng.integers(1, 8, N_ORDERS)
    l_okey = np.repeat(okey, nlines)
    l_odate = np.repeat(odate, nlines)
    n_li = len(l_okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = qty * rng.integers(90_000, 200_000, n_li) / 100.0
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = l_odate + rng.integers(1, 122, n_li) * _DAY_US
    shipped = ship <= _D1995_06_17_US
    rflag = np.where(shipped, np.where(rng.random(n_li) < .5, "R", "A"), "N")
    lstatus = np.where(ship > _D1995_06_17_US, "O", "F")
    linenum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    total = np.bincount(np.repeat(np.arange(N_ORDERS), nlines),
                        weights=price * (1 + tax) * (1 - disc))
    pq.write_table(pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, len(PRIORITIES), N_ORDERS)],
    }), os.path.join(out_dir, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20_001, n_li),
        "l_suppkey": rng.integers(1, 1_001, n_li),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty, "l_extendedprice": price,
        "l_discount": disc, "l_tax": tax,
        "l_returnflag": rflag.tolist(), "l_linestatus": lstatus.tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))
    return per_user


# ------------------------------------------------------ doc_admission

# The sf0.01 documents table (TESTDATA.md) holds 500 documents, of
# which 24 (4.8%) are word-3-shingle near-duplicates (Jaccard >= 0.8,
# the admission screen's default tau) of an earlier one, and bench.py's
# multi-drop admission scenario splits a documents table into six
# drops: 500 / 6 ~ 83 documents per drop, 5% of them planted duplicates.
DOCS_PER_DROP = 83
DUP_SHARE = 0.05
VOCAB = 60_000
MIN_JACCARD = 0.9


def _shingles(words: list[str], n: int = 3) -> set[str]:
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a.split(" ")), _shingles(b.split(" "))
    return len(sa & sb) / len(sa | sb)


class DocStream:
    """Seeded document drops of DOCS_PER_DROP documents, made on demand.
    Originals hold 40-80 words, around the sf0.01 documents' median of
    56.

    DUP_SHARE of each drop are near-duplicates (word-3-shingle Jaccard
    >= MIN_JACCARD) of an earlier original, each original duplicated at
    most once: half of them point at an original in the same drop, half
    at one in an earlier drop (drop 0 has only same-drop duplicates).
    Originals are drawn from a VOCAB-word vocabulary, so no two
    originals share a shingle by accident.  A duplicate always carries
    a higher doc_id than its original, so both the in-batch rule and the
    corpus rule keep the original: the kept set is exactly the
    originals."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.drops: list[list[dict]] = []
        self.originals: set[int] = set()
        self._texts: dict[int, str] = {}
        self._undup: list[int] = []     # originals not yet duplicated

    def drop(self, i: int) -> list[dict]:
        while len(self.drops) <= i:
            self._make()
        return self.drops[i]

    def _make(self) -> None:
        rng, next_id = self.rng, len(self.drops) * DOCS_PER_DROP
        n_dup = int(DOCS_PER_DROP * DUP_SHARE)
        n_cross = n_dup // 2 if self.drops else 0
        drop, ids = [], []
        for _ in range(DOCS_PER_DROP - n_dup):
            text = " ".join(_word(int(w)) for w in
                            rng.integers(0, VOCAB, int(rng.integers(40, 81))))
            self._texts[next_id] = text
            self.originals.add(next_id)
            ids.append(next_id)
            drop.append(_doc(next_id, text, rng))
            next_id += 1
        same = rng.choice(ids, n_dup - n_cross, replace=False).tolist()
        picks = rng.choice(len(self._undup), n_cross, replace=False).tolist()
        cross = [self._undup[j] for j in picks]
        taken = set(cross) | set(same)
        self._undup = [d for d in self._undup + ids if d not in taken]
        for orig in same + cross:
            words = self._texts[orig].split(" ")
            tail = _word(VOCAB + int(rng.integers(0, VOCAB)))
            if rng.random() < 0.5:
                words[-1] = tail
            else:
                words.append(tail)
            text = " ".join(words)
            if jaccard(self._texts[orig], text) < MIN_JACCARD:
                raise AssertionError("planted duplicate below MIN_JACCARD")
            drop.append(_doc(next_id, text, rng))
            next_id += 1
        self.drops.append(drop)

    def kept(self, drops: range) -> set[int]:
        return {d["doc_id"] for i in drops for d in self.drop(i)
                if d["doc_id"] in self.originals}


def _word(i: int) -> str:
    out = ""
    i += 26 ** 3                       # every word has >= 4 letters
    while i:
        i, r = divmod(i, 26)
        out += chr(97 + r)
    return out


def _doc(doc_id: int, text: str, rng: np.random.Generator) -> dict:
    return {"doc_id": doc_id, "text": text, "lang": "en",
            "source": f"src{int(rng.integers(0, 8))}"}


def write_jsonl(rows: list[dict], path: str) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
