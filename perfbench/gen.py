"""Seeded input generators for the benchmark (numpy/pyarrow only, no Spark).

Every generator takes the seed as an argument, writes its inputs under
``out_dir`` and returns the ground truth the output checks compare
against; the same seed gives byte-identical files.

- ``marketing``: the four raw CSVs with the exact ``schemas.RAW_CSV_FILES``
  names and headers, plus additive delta slices (new transactions and
  spend rows on already-known dates, products, campaigns and customers).
- ``corpus``: documents with planted exact and near duplicates, and one
  embedding per document (near duplicates get nearby vectors).
- ``events``: event part-files in event-time order, with replayed rows.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# file name and header of each raw CSV; mirrors schemas.RAW_CSV_FILES
# (the package is not imported here so generation never starts a JVM)
TRANSACTIONS_CSV = "ecom_mens_streetwear_10000.csv"
SPEND_CSV = "channel_spend_daily_campaign.csv"
CAMPAIGNS_CSV = "campaigns_details.csv"
PROMO_CSV = "promotion_reference.csv"
TRANSACTIONS_HEADER = [
    "Transaction Date", "Customer ID", "Age", "Gender", "Item Purchased",
    "Category", "Quantity", "Purchase Amount (THB)", "Cost Price (THB)",
    "Location", "Subscription Status", "Shipping Type", "Payment Method",
    "Previous Purchases", "Campaign Name",
]
SPEND_HEADER = ["Date", "Campaign Name", "Spending", "Impressions", "Clicks",
                "Observed CTR"]
CAMPAIGNS_HEADER = ["campaign_id", "campaign_name", "channel", "promo_code",
                    "start_date", "end_date"]
PROMO_HEADER = ["promo_code", "discount_pct"]

# the reference data's shape (BASELINE.md, FIXTURES.md section 1): 10,000
# transactions over 2024-11-01..2025-10-31, one spend row per channel per
# day (1,460), 48 campaigns (4 channels x 12 months), 4 promotions, 2,450
# customers, 19 products in 7 categories, 8 locations
N_TRANSACTIONS = 10_000
N_CUSTOMERS = 2_450
CHANNELS = ["Paid Search ", "Social ", "Email ", "Affiliates "]
ITEMS = [  # (name, category)
    ("Box Logo Tee", "T-Shirts"), ("Graphic Tee", "T-Shirts"), ("Pocket Tee", "T-Shirts"),
    ("Oversized Tee", "T-Shirts"), ("Pullover Hoodie", "Hoodies"), ("Zip Hoodie", "Hoodies"),
    ("Heavyweight Hoodie", "Hoodies"), ("Crewneck Sweatshirt", "Sweatshirts"),
    ("Half-Zip Sweatshirt", "Sweatshirts"), ("Cargo Pants", "Bottoms"),
    ("Denim Jeans", "Bottoms"), ("Track Pants", "Bottoms"), ("Shorts", "Bottoms"),
    ("Varsity Jacket - Wool Blend", "Outerwear"), ("Coach Jacket", "Outerwear"),
    ("Snapback Cap", "Caps"), ("Dad Cap", "Caps"), ("Crossbody Bag", "Accessories"),
    ("Crew Socks", "Accessories"),
]
LOCATIONS = ["Bangkok", "Chiang Mai", "Phuket", "Khon Kaen", "Pattaya", "Hat Yai",
             "Nakhon Ratchasima", "Udon Thani"]
LOCATION_P = [0.41] + [0.59 / 7] * 7
GENDERS, GENDER_P = ["Male", "Female", "Other"], [0.66, 0.32, 0.02]
SHIPPING, SHIPPING_P = ["Standard", "Express", "Same-Day"], [0.70, 0.25, 0.05]
PAYMENTS = ["Credit Card", "PromptPay", "Cash on Delivery", "Bank Transfer", "E-Wallet"]
PROMOS = [("", 0), ("PROMO10", 10), ("PROMO15", 15), ("PROMO20", 20)]
FIRST_DAY = dt.date(2024, 11, 1)
DAYS = [FIRST_DAY + dt.timedelta(i) for i in range(365)]
# dates that carry spend but never a transaction: their spend rows get
# a NULL date_id in fact_spend (the full-outer-join path of the views)
SPEND_ONLY_DAYS = (dt.date(2024, 12, 31), dt.date(2025, 4, 13), dt.date(2025, 8, 12))


def mdy(d: dt.date) -> str:
    """``M/d/yyyy`` without zero padding, as the raw files spell dates."""
    return f"{d.month}/{d.day}/{d.year}"


def campaign(channel: str, d: dt.date) -> str:
    """``"<Channel> <yyyy-mm>"``; the channel keeps its trailing space."""
    return f"{channel}{d.year}-{d.month:02d}"


def _csv_bytes(header: list[str], rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _write(path: str, data: bytes) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class _Catalog:
    """Products, customers and sale days of one seed."""

    def __init__(self, rng: np.random.Generator):
        self.days = [d for d in DAYS if d not in SPEND_ONLY_DAYS]
        self.items = []  # (name, category, unit price, unit cost)
        for name, category in ITEMS:
            price = int(rng.integers(4, 60)) * 50
            self.items.append((name, category, price, int(price * rng.uniform(0.3, 0.5))))
        self.customers = [
            (f"C1{i:05d}", int(rng.integers(16, 51)),
             GENDERS[rng.choice(3, p=GENDER_P)], LOCATIONS[rng.choice(8, p=LOCATION_P)],
             ("Active", "Inactive")[int(rng.random() >= 0.57)])
            for i in range(N_CUSTOMERS)
        ]


def _transactions(rng, cat: _Catalog, n: int, every_customer: bool = False):
    """``n`` transaction rows plus their (revenue, cost) totals; with
    ``every_customer`` the first rows visit each customer once."""
    day = rng.integers(0, len(cat.days), n)
    cust = rng.integers(0, len(cat.customers), n)
    if every_customer:
        cust[:len(cat.customers)] = rng.permutation(len(cat.customers))
    item = rng.integers(0, len(cat.items), n)
    qty = rng.choice([1, 2, 3], n, p=[0.80, 0.18, 0.02])
    chan = rng.integers(0, len(CHANNELS), n)
    ship = rng.choice(len(SHIPPING), n, p=SHIPPING_P)
    pay = rng.integers(0, len(PAYMENTS), n)
    prev = rng.integers(0, 10, n)
    rows, revenue, cost = [], 0, 0
    for i in range(n):
        d = cat.days[day[i]]
        c = cat.customers[cust[i]]
        name, category, price, unit_cost = cat.items[item[i]]
        q = int(qty[i])
        rev, cst = price * q, unit_cost * q
        revenue += rev
        cost += cst
        rows.append((mdy(d), c[0], c[1], c[2], name, category, q, rev, cst,
                     c[3], c[4], SHIPPING[ship[i]], PAYMENTS[pay[i]],
                     int(prev[i]), campaign(CHANNELS[chan[i]], d)))
    return rows, revenue, cost


def _spend(rng, days: list[dt.date], channels: list[str]):
    """One spend row per channel per day, plus the spend total."""
    rows, total = [], Decimal(0)
    for d in days:
        for ch in channels:
            spend = Decimal(int(rng.integers(100_000, 1_400_000))) / 100
            impressions = int(rng.integers(50_000, 250_000))
            clicks = int(rng.integers(impressions // 400, impressions // 60))
            total += spend
            rows.append((mdy(d), campaign(ch, d), str(spend), impressions, clicks,
                         round(clicks / impressions, 4)))
    return rows, total


def marketing(out_dir: str, seed: int, n_tx: int, n_deltas: int, delta_tx: int) -> dict:
    """Write ``raw/`` (the four raw CSVs) and ``delta-NNN/`` slices.

    Returns the ground truth: per slice the transaction count, revenue,
    cost, spend-row count and spend, and the raw CSV byte count.
    Deltas only add rows on known dates, items, campaigns and
    customers, so the warehouse dimensions never change: each holds
    ``delta_tx`` late transactions and a spend CSV with its header only.
    """
    rng = np.random.default_rng(seed)
    cat = _Catalog(rng)
    tx, rev, cost = _transactions(rng, cat, n_tx, every_customer=n_tx >= N_CUSTOMERS)
    sp, spend = _spend(rng, DAYS, CHANNELS)
    raw = os.path.join(out_dir, "raw")
    nbytes = _write(os.path.join(raw, TRANSACTIONS_CSV), _csv_bytes(TRANSACTIONS_HEADER, tx))
    nbytes += _write(os.path.join(raw, SPEND_CSV), _csv_bytes(SPEND_HEADER, sp))
    months = sorted({(d.year, d.month) for d in DAYS})
    camp_rows = []
    for ch in CHANNELS:
        for y, m in months:
            first = dt.date(y, m, 1)
            last = (first + dt.timedelta(32)).replace(day=1) - dt.timedelta(1)
            camp_rows.append((len(camp_rows) + 1, campaign(ch, first), ch.strip(),
                              PROMOS[len(camp_rows) % len(PROMOS)][0],
                              first.isoformat(), last.isoformat()))
    nbytes += _write(os.path.join(raw, CAMPAIGNS_CSV), _csv_bytes(CAMPAIGNS_HEADER, camp_rows))
    nbytes += _write(os.path.join(raw, PROMO_CSV), _csv_bytes(PROMO_HEADER, PROMOS))
    truth = {
        "raw_dir": raw,
        "raw_bytes": nbytes,
        "base": {"tx": n_tx, "revenue": rev, "cost": cost,
                 "spend_rows": len(sp), "spend": spend},
        "deltas": [],
    }
    for k in range(n_deltas):
        dtx, drev, dcost = _transactions(rng, cat, delta_tx)
        d = os.path.join(out_dir, f"delta-{k:03d}")
        _write(os.path.join(d, TRANSACTIONS_CSV), _csv_bytes(TRANSACTIONS_HEADER, dtx))
        _write(os.path.join(d, SPEND_CSV), _csv_bytes(SPEND_HEADER, []))
        truth["deltas"].append({"dir": d, "tx": delta_tx, "revenue": drev, "cost": dcost,
                                "spend_rows": 0, "spend": Decimal(0)})
    return truth


# --- document corpus --------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_WORDS = np.array([
    "spark", "query", "table", "join", "merge", "stream", "window", "batch",
    "column", "filter", "order", "customer", "campaign", "channel", "revenue",
    "vector", "index", "shuffle", "partition", "cluster", "schema", "record",
    "metric", "report", "profit", "margin", "market", "season", "product",
    "signal", "budget", "audience", "dashboard", "refresh", "pipeline", "model",
    "sample", "corpus", "token", "score", "quality", "engine", "storage",
    "ledger", "insight", "forecast", "segment", "retention", "conversion",
    "impression", "click", "basket", "loyalty", "promotion", "discount",
    "inventory", "shipment", "warehouse", "latency", "throughput",
])


def _prose(rng, n_tokens: int) -> list[str]:
    """Natural-looking text: about a quarter stopwords, varied words."""
    words = rng.choice(_WORDS, n_tokens)
    stop = rng.random(n_tokens) < 0.25
    picks = rng.choice(len(STOPWORDS), n_tokens)
    return [STOPWORDS[p] if s else str(w) for w, s, p in zip(words, stop, picks)]


def _spam(rng, n_tokens: int) -> list[str]:
    """Low-quality text: a handful of words repeated, no stopwords."""
    vocab = rng.choice(_WORDS, 3, replace=False)
    return [str(w) for w in rng.choice(vocab, n_tokens)]


def corpus(out_dir: str, seed: int, n_docs: int, dim: int = 32) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``.

    About 8% of documents are exact copies of an earlier one (half of
    them upper-cased, which exact dedup still folds), 6% are near
    duplicates (one word of a 40-token original replaced) and 15% are
    low-quality spam. Returns the planted pairs and the input bytes.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    vecs = np.empty((n_docs, dim), dtype=np.float32)
    exact_pairs, near_pairs = [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            j = int(rng.integers(0, i))
            texts.append(texts[j].upper() if rng.random() < 0.5 else texts[j])
            vecs[i] = vecs[j]
            exact_pairs.append((j, i))
        elif i > 10 and r < 0.14 and len(texts[i - 1].split(" ")) >= 40:
            toks = texts[i - 1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
            vecs[i] = vecs[i - 1] + rng.normal(0, 0.002, dim)
            near_pairs.append((i - 1, i))
        else:
            n_tok = int(rng.integers(40, 80))
            toks = _spam(rng, n_tok) if r > 0.85 else _prose(rng, n_tok)
            texts.append(" ".join(toks))
            v = rng.normal(0, 1, dim)
            vecs[i] = v / np.linalg.norm(v)
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float64)), pa.list_(pa.float64())),
    })
    doc_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(docs, doc_path)
    pq.write_table(emb, emb_path)
    return {
        "n_docs": n_docs,
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "input_bytes": os.path.getsize(doc_path) + os.path.getsize(emb_path),
    }



# --- event part-files -------------------------------------------------------

EVENT_TYPES, EVENT_TYPE_P = ["view", "click", "purchase"], [0.70, 0.25, 0.05]
EVENT_SPAN_S = 1200  # event time one part-file covers
EVENT_T0_US = int(dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6


def events(out_dir: str, seed: int, n_files: int, per_file: int) -> dict:
    """Write ``n_files`` event part-files, ``part-NNNNN.parquet``.

    File k holds ``per_file`` events whose times fall in its own
    20-minute slot after file k-1's, so a stream that reads the files in
    order sees event time advance. About 3% of rows replay an earlier
    event of the same or the previous file (same id, time and value),
    which the stream's watermarked dedup must drop. Returns the file
    paths, the row and distinct-event counts (in all, and new in each
    file) and the input bytes.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths, rows, prev, next_id = [], 0, None, 0
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    for k in range(n_files):
        n_new = per_file - per_file * 3 // 100
        ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        ts = EVENT_T0_US + k * EVENT_SPAN_S * 10**6 + np.sort(
            rng.integers(0, EVENT_SPAN_S * 10**6, n_new))
        kind = rng.choice(3, n_new, p=EVENT_TYPE_P)
        value = np.where(kind == 2, rng.integers(100, 500_000, n_new) / 100, 0.0)
        t = pa.table({
            "event_id": ids, "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 500, n_new), "event_type": np.array(EVENT_TYPES)[kind],
            "value": value, "props": [f'{{"page":{p}}}' for p in rng.integers(0, 40, n_new)],
        }, schema=schema)
        # replays come from this file or the previous one: well inside
        # the one-hour dedup watermark
        pool = t if prev is None else pa.concat_tables([prev, t])
        t = pa.concat_tables([t, pool.take(rng.integers(0, len(pool), per_file - n_new))])
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(t, path)
        paths.append(path)
        rows += len(t)
        prev = t.slice(0, n_new)
    return {
        "paths": paths,
        "rows": rows,
        "distinct": next_id,
        "new_per_file": per_file - per_file * 3 // 100,
        "input_bytes": sum(os.path.getsize(p) for p in paths),
    }
