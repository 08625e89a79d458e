"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size: the same
arguments give byte-identical files, and no generator reads anything
outside the directory it writes to.

- :func:`write_warehouse` — the registry's ten tables (TPC-H-ish star
  schema plus events / documents / embeddings) as one parquet each, in
  the same schema and value ranges as the engine's test data.
- :func:`write_raw_listings` — an IndiaMART-style raw scrape CSV with
  planted defects; returns the exact counts the ETL must report.
- :func:`epoch_docs` — one JSONL micro-batch for the streaming near-dup
  sink: 70 % unique docs, 20 % near-dups, 10 % exact dups.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "rod", "ring", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(rng, n: int, start: datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def write_warehouse(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf`` under
    ``out_dir`` (``<table>.parquet`` each). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    def ids(n):
        return np.arange(n, dtype=np.int64)

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": ids(n_part),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": ids(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, datetime(1995, 1, 2), 2498),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": ids(n_ev),
        "ts": np.datetime64(datetime(2024, 1, 1), "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    # 5 % near-dups: another doc's text plus one marker word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": ids(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": ids(n_vecs),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_docs, "embeddings": n_vecs,
    }


# ------------------------------------------------------------ raw listings

RAW_HEADER = [
    "Search Keyword", "Product Name", "Supplier Name", "City", "State",
    "Rating", "Price", "Phone", "Product URL", "Supplier URL", "CatId",
    "McatId", "ItemId", "DispId", "Scraped At",
]
#: raw keyword spellings, several of which normalize to the same key
KEYWORDS = [
    "bakery oven", "Bakery Oven,", "  bakery   oven ", "mixer grinder",
    "MIXER GRINDER", "wet & dry vacuum cleaner", "built-in dishwasher",
    "semi automatic washing machine", "water purifier", "air cooler",
]
PLACES = [
    ("chennai", "tamilnadu"), ("Chennai", "Tamil Nadu"), ("kochi", "kerala"),
    ("BENGALURU", "karnataka"), ("mumbai", "maharashtra"),
    ("ahmedabad", " gujarat "), ("new delhi", "delhi"), ("kolkata", "west bengal"),
    ("jaipur", "rajasthan"), ("gangtok", "sikkim"),
]
UNITS = ["Piece", "Unit", "Set", "Kg", "Box"]
NULL_TOKENS = ["NaN", "None", "null", ""]
#: planted defect kinds; every kind but ``clean`` changes an expected count
DEFECTS = {
    "clean": 0.60,
    "ask_price": 0.06,
    "null_place": 0.06,
    "dup_key": 0.08,
    "missing_product": 0.04,
    "missing_supplier": 0.04,
    "bad_url": 0.04,
    "bad_rating": 0.04,
    "zero_price": 0.04,
}
ISSUE_OF = {
    "missing_product": "missing_product_name",
    "missing_supplier": "missing_supplier_name",
    "bad_url": "invalid_product_url",
    "bad_rating": "rating_out_of_range",
    "zero_price": "non_positive_price",
}


def write_raw_listings(path: str, seed: int, n_rows: int) -> dict:
    """Write an IndiaMART-style raw scrape of ``n_rows`` rows to ``path``
    and return what ``pipeline.run_pipeline`` must produce from it:
    ``curated_rows`` and ``issues`` (rows per issue type)."""
    rng = np.random.default_rng([seed, n_rows, 7])
    kinds = list(DEFECTS)
    draw = rng.choice(len(kinds), n_rows, p=list(DEFECTS.values()))
    rows: list[list[str]] = []
    originals: list[list[str]] = []
    counts = dict.fromkeys(kinds, 0)
    for i in range(n_rows):
        kind = kinds[draw[i]]
        if kind == "dup_key" and not originals:
            kind = "clean"
        counts[kind] += 1
        item, disp = 100_000 + i, 1_000_000 + i
        city, state = PLACES[int(rng.integers(0, len(PLACES)))]
        price = (
            f"₹ {int(rng.integers(50, 150_000)):,}/"
            f"{UNITS[int(rng.integers(0, len(UNITS)))]}"
        )
        row = [
            KEYWORDS[int(rng.integers(0, len(KEYWORDS)))],
            f"Product {int(rng.integers(0, 5000))} Model {i % 97}",
            f"supplier {int(rng.integers(0, 800))} traders",
            city, state,
            f"{rng.integers(10, 51) / 10:.1f}",
            price,
            f"+91 9{int(rng.integers(0, 10**9)):09d}",
            f"https://www.indiamart.com/proddetail/p-{disp}.html",
            f"https://www.indiamart.com/s-{int(rng.integers(0, 800))}/",
            str(int(rng.integers(1, 60))), str(int(rng.integers(100, 900))),
            str(item), str(disp),
            f"2026-01-{1 + i % 28:02d}T{i % 24:02d}:00:00",
        ]
        if kind == "ask_price":
            row[6] = "Ask Price" if i % 2 else "Get Quote"
        elif kind == "null_place":
            row[3] = NULL_TOKENS[i % len(NULL_TOKENS)]
            row[4] = NULL_TOKENS[(i + 1) % len(NULL_TOKENS)]
        elif kind == "dup_key":
            # same (product_url, dispid) as an earlier clean row and a
            # higher item id, so keep-first drops this copy
            src = originals[int(rng.integers(0, len(originals)))]
            row[8], row[13] = src[8], src[13]
            row[1] = src[1] + " DUP"
        elif kind == "missing_product":
            row[1] = NULL_TOKENS[i % len(NULL_TOKENS)]
        elif kind == "missing_supplier":
            row[2] = NULL_TOKENS[i % len(NULL_TOKENS)]
        elif kind == "bad_url":
            row[8] = f"notaurl-{disp}"
        elif kind == "bad_rating":
            row[5] = "9.9" if i % 2 else "-1.0"
        elif kind == "zero_price":
            row[6] = "₹ 0/Piece"
        if kind == "clean":
            originals.append(row)
        rows.append(row)
    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(RAW_HEADER)
        w.writerows(rows)
    dropped = counts["dup_key"] + counts["missing_product"] + counts["missing_supplier"]
    return {
        "rows": n_rows,
        "curated_rows": n_rows - dropped,
        "issues": {ISSUE_OF[k]: counts[k] for k in ISSUE_OF},
        "bytes": os.path.getsize(path),
    }


# ------------------------------------------------------------ epoch docs

_VOCAB = [hashlib.md5(f"w{i}".encode()).hexdigest()[:8] for i in range(4096)]


def _doc_text(seed: int, doc_id: int) -> str:
    """A 40-word document unique to (seed, doc_id): every word is an
    independent hash of (seed, doc_id, position)."""
    words = []
    for i in range(40):
        h = hashlib.md5(f"{seed}:doc{doc_id}:w{i}".encode()).digest()
        words.append(_VOCAB[int.from_bytes(h[:8], "big") % len(_VOCAB)])
    return " ".join(words)


def _unique_slots(n_docs: int) -> int:
    return sum(1 for j in range(n_docs) if j % 10 >= 3)


def epoch_docs(seed: int, epoch: int, n_docs: int) -> list[dict]:
    """Rows of one streaming epoch. Epoch 0 is all unique; later epochs
    are 70 % unique, 20 % near-dups (one word changed) and 10 % exact
    dups, both copied from unique docs of EARLIER epochs. Each row
    carries its ``kind`` so the checks know what must be admitted."""
    rows = []
    base = epoch * n_docs
    for j in range(n_docs):
        did = base + j
        h = int.from_bytes(
            hashlib.md5(f"{seed}:pick{did}".encode()).digest()[:8], "big"
        )
        bucket = j % 10
        if epoch > 0 and bucket < 3:
            # source: a unique slot of an earlier epoch (every slot of
            # epoch 0, slots with j % 10 >= 3 of the others)
            src_epoch = h % epoch
            if src_epoch == 0:
                src_j = (h >> 16) % n_docs
            else:
                k = (h >> 16) % _unique_slots(n_docs)
                src_j = (k // 7) * 10 + 3 + k % 7
            text = _doc_text(seed, src_epoch * n_docs + src_j)
            if bucket == 0:
                rows.append({"doc_id": did, "text": text, "kind": "exact"})
            else:
                words = text.split(" ")
                words[h % len(words)] = _VOCAB[(h >> 24) % len(_VOCAB)]
                rows.append({"doc_id": did, "text": " ".join(words), "kind": "near"})
            continue
        rows.append({"doc_id": did, "text": _doc_text(seed, did), "kind": "unique"})
    return rows


def write_epoch(path: str, rows: list[dict]) -> None:
    """Write one epoch as JSONL (``doc_id``, ``text``)."""
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
