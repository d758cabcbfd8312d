"""Seeded input generators.  The same seed gives the same tables.

Tables follow the shapes of the repository's TPC-H-like test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) so the workloads read like the engine's own
gates.  Time columns are whole-day offsets from a base day chosen by
the caller, so a workload can place its cutoffs relative to the
wall-clock day the engine's microbatch windows use.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
HISTORY_DAYS = 60

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "es": ["el", "los", "que", "y", "en", "por", "una", "con"],
}


def base_day_us(day: dt.date) -> int:
    epoch = dt.date(1970, 1, 1)
    return (day - epoch).days * DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def tpch(out_dir: str, seed: int, sf: float, base_us: int) -> dict[str, int]:
    """TPC-H-like star schema plus ``events``.  Order and ship dates are
    whole days in the ``HISTORY_DAYS`` before ``base_us``; event times
    carry seconds.  Returns row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    start_us = base_us - HISTORY_DAYS * DAY_US

    _write(f"{out_dir}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(f"{out_dir}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())}))
    _write(f"{out_dir}/customer.parquet", pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(f"{out_dir}/supplier.parquet", pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(f"{out_dir}/part.parquet", pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype="int64"),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STEEL", "BRASS", "COPPER", "TIN"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}))

    o_day = rng.integers(0, HISTORY_DAYS, n_ord)
    o_key = np.arange(1, n_ord + 1, dtype="int64")
    n_lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(o_key, n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype("int32")
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    ship_day = np.repeat(o_day, n_lines) + rng.integers(1, 31, n_li)
    totals = np.bincount(np.repeat(np.arange(n_ord), n_lines),
                         weights=price * (1 - disc) * (1 + tax),
                         minlength=n_ord)
    _write(f"{out_dir}/orders.parquet", pa.table({
        "o_orderkey": o_key,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[.49, .49, .02]),
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _ts(start_us + o_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))
    _write(f"{out_dir}/lineitem.parquet", pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype("int64"),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype("int64"),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(start_us + ship_day * DAY_US)}))
    evt_us = start_us + rng.integers(0, HISTORY_DAYS * 86_400, n_evt) * 1_000_000
    _write(f"{out_dir}/events.parquet", pa.table({
        "event_id": np.arange(1, n_evt + 1, dtype="int64"),
        "ts": _ts(np.sort(evt_us)),
        "user_id": rng.integers(1, n_cust + 1, n_evt).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(20.0, n_evt), 2),
        "props": [f'{{"k":{i % 17}}}' for i in range(n_evt)]}))
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_evt, "part": n_part, "supplier": n_supp}


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def documents(path: str, seed: int, n_docs: int, dup_share: float = 0.08
              ) -> list[tuple[int, int]]:
    """Documents of 30-90 words from a Zipf-like vocabulary with one
    language's stopwords mixed in.  A ``dup_share`` of them copy an
    earlier document with one word changed: planted near-duplicates
    whose 3-gram Jaccard stays well above 0.7.  Returns the planted
    (original, copy) id pairs."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 1500)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()
    langs = list(STOPWORDS)
    texts: list[str] = []
    doc_lang: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
            doc_lang.append(doc_lang[src])
            planted.append((src, i))
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        n = int(rng.integers(30, 91))
        words = list(rng.choice(vocab, n, p=weights))
        for pos in rng.integers(0, n, max(3, n // 6)):
            words[int(pos)] = str(rng.choice(STOPWORDS[lang]))
        texts.append(" ".join(words))
        doc_lang.append(lang)
    _write(path, pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": doc_lang,
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}))
    return planted


def embeddings(path: str, seed: int, n_vec: int, dim: int = 64,
               id_offset: int = 0, centers_seed: int | None = None
               ) -> np.ndarray:
    """Clustered float32 vectors around 32 seeded centres.  Vectors
    drawn with the same ``centers_seed`` share the centres, so query
    batches land in the corpus's clusters."""
    crng = np.random.default_rng(seed if centers_seed is None else centers_seed)
    centres = crng.normal(size=(32, dim))
    rng = np.random.default_rng(seed)
    label = rng.integers(0, 32, n_vec)
    vecs = (centres[label] + 0.45 * rng.normal(size=(n_vec, dim))).astype("float32")
    _write(path, pa.table({
        "vec_id": np.arange(id_offset, id_offset + n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype("int32")}))
    return vecs
