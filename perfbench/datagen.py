"""Seeded input generators for the benchmark.

``write_tables`` writes the ten parquet tables the query registry
reads (the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``) with the same column names, arrow types and value
domains as the reference test data, at a chosen scale factor.

``make_lake`` builds the REST-lake records for the ``lake_extract``
spine: schema drift across three key-sets, a dotted column name,
amounts that sometimes hold a date, and revisions of earlier records
that the warehouse MERGE must apply. It also returns the totals the
spine's result must match, computed here from the generator's own
records, never by the program under test.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return (d * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the reference data's
    ratios: lineitem ~6M x sf, orders 1.5M x sf, ...)."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every registry table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist()})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{_COLORS[c]} {_NOUNS[k]}" for c, k in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days("1995-01-01", "2001-08-01", rng, no),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist()})

    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days("1995-01-02", "2001-11-04", rng, nl)})

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + start
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(10, ne // 66), ne),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one inserted word
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.15 * centroids[labels] + rng.normal(0.0, 1.0, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return n


# ---------------------------------------------------------------------------
# REST-lake records for the lake_extract spine
# ---------------------------------------------------------------------------

LAKE_CLASS = "FSM_GeneralLedgerTransactionDetail"
LAKE_SCHEMA = ("RecId string, Revision bigint, Account string, "
               "AccountingEntity string, `FinanceCodeBlock.AccountingUnit` string, "
               "TransactionAmount string, PostingDate string, JournalCode string")


_DATE_PREFIX = re.compile(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}")


def _repaired(amount: str) -> Decimal:
    # the cleansing rule under test: an amount holding a date is 0.00
    return Decimal("0.00") if _DATE_PREFIX.match(amount) else Decimal(amount)


def make_lake(n_records: int, seed: int) -> tuple[list[dict], dict]:
    """``n_records`` base records plus revisions (10% of them) and late
    inserts (2%), in lake order. Returns ``(records, expected)`` where
    ``expected`` holds the spine's answer:

    - ``total_records``: lake records fetched (what reconciliation counts);
    - ``base`` / ``updates`` / ``inserts``: rows in the first commit and
      the MERGE's matched and unmatched rows;
    - ``totals``: ``{(Account, AccountingEntity): (n_rows, amount)}`` of
      the final warehouse state, amounts repaired and summed exactly;
    - ``key_sets``: distinct non-null key-sets (schema versions).
    """
    rng = np.random.default_rng(seed)
    base_day = dt.date(2024, 1, 1)

    def record(i: int, rev: int) -> dict:
        r = {"RecId": f"R{i:08d}", "Revision": rev,
             "Account": f"A{int(rng.integers(0, 40)):02d}",
             "AccountingEntity": f"E{int(rng.integers(0, 6))}",
             "TransactionAmount": f"{int(rng.integers(-50_000, 500_000)) / 100:.2f}",
             "PostingDate": (base_day + dt.timedelta(days=int(rng.integers(0, 90))))
             .isoformat() + "T00:00:00"}
        drift = rng.random()
        if drift < 0.25:
            r["JournalCode"] = f"J{int(rng.integers(0, 5))}"     # v2: extra column
        if drift <= 0.85:                                     # v3 drops the unit
            r["FinanceCodeBlock.AccountingUnit"] = f"U{int(rng.integers(0, 12))}"
        if rev == 0 and rng.random() < 0.02:
            r["TransactionAmount"] = r["PostingDate"][:10]     # date-in-amount
        return r

    recs = [record(i, 0) for i in range(n_records)]
    final = {r["RecId"]: r for r in recs}
    n_upd = n_records // 10
    upd_ids = rng.choice(n_records, n_upd, replace=False)
    updates = []
    for i in sorted(int(x) for x in upd_ids):
        r = dict(recs[i])
        r["Revision"] = 1
        # a revision always carries a valid amount that differs
        old = _repaired(r["TransactionAmount"])
        r["TransactionAmount"] = f"{old + Decimal(int(rng.integers(1, 10_000))) / 100:.2f}"
        updates.append(r)
        final[r["RecId"]] = r
    late = [record(n_records + j, 1) for j in range(n_records // 50)]
    for r in late:
        final[r["RecId"]] = r
    lake = recs + updates + late

    totals: dict[tuple[str, str], list] = {}
    for r in final.values():
        t = totals.setdefault((r["Account"], r["AccountingEntity"]), [0, Decimal("0.00")])
        t[0] += 1
        t[1] += _repaired(r["TransactionAmount"])
    expected = {
        "total_records": len(lake),
        "base": len(recs), "updates": len(updates), "inserts": len(late),
        "totals": {k: (n, float(s)) for k, (n, s) in totals.items()},
        "key_sets": len({frozenset(r) for r in lake}),
    }
    return lake, expected
