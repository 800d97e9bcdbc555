"""Seeded parquet fixtures for ``catalog_mix`` and ``corpus_dedup``.

``write_catalog`` writes the relational and event tables the catalog reads
(region, nation, customer, supplier, part, orders, lineitem, events) at the
row counts, value ranges and (uniform) key distributions of the sf0.1 fixture
set, with the same parquet types. A run may read only its own checkout, so
the inputs are generated there rather than read from sf0.1; the corpus shape
below is calibrated against sf0.1's. ``write_corpus`` writes a k-copy
widening of a base corpus the way ``scripts/gen_sf10_wide.py`` does: copy c
applies a bijective token substitution (a permutation of the vocabulary) to
the documents and an orthogonal rotation to the embeddings, so within-copy
similarity structure is kept exactly and near-duplicate cluster count grows
with k while cluster size stays constant. All randomness comes from the
seed argument.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 documents' 30-word vocabulary and language mix
VOCAB = (
    "a the data spark merge join scan sort hash key value row table column filter "
    "group agg window stream batch query order line part customer vector fast slow "
    "big small"
).split()
LANGS, LANG_WEIGHTS = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
# base-corpus shape, set so that the 5,000-document corpus drops about as
# many rows per dedup stage as sf0.1 does (8 exact, 470 near-dup, 540
# semantic, by its DuckDB oracle)
EXACT_COPY, NEAR_COPY, CLUSTER_WEIGHT = 0.0016, 0.05, 0.27
EMB_DIM = 64
N_LABELS = 10
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "steel", "ring", "bolt", "nut", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]


def _ts(rng: np.random.Generator, n: int, start: str, end: str, whole_days: bool) -> pa.Array:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, n)
    if whole_days:
        v -= v % (86_400 * 1_000_000)
    return pa.array(v, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dst: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), dst / f"{name}.parquet")


def write_catalog(dst: Path, seed: int) -> None:
    rng = np.random.default_rng(seed)
    dst.mkdir(parents=True, exist_ok=True)
    _write(dst, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000
    _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    words = np.array(PART_WORDS)
    _write(dst, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(words[rng.integers(0, 10, n_part)], words[rng.integers(0, 10, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-02", True),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-05", True),
    })
    _write(dst, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(_ts(rng, n_ev, "2024-01-01", "2024-01-31", False).to_numpy()), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


# ---------------------------------------------------------------------------
# documents + embeddings, widened by k copies
# ---------------------------------------------------------------------------


def _base_corpus(rng: np.random.Generator, n_docs: int) -> list[np.ndarray]:
    """Token-index arrays: random texts of 10 to 100 tokens plus exact
    copies and near copies (one or two tokens edited), so every dedup stage
    has work."""
    docs: list[np.ndarray] = []
    n_vocab = len(VOCAB)
    while len(docs) < n_docs:
        r = rng.random()
        if docs and r < EXACT_COPY:
            docs.append(docs[rng.integers(0, len(docs))].copy())
        elif docs and r < EXACT_COPY + NEAR_COPY:
            d = docs[rng.integers(0, len(docs))].copy()
            for _ in range(rng.integers(1, 3)):
                d[rng.integers(0, len(d))] = rng.integers(0, n_vocab)
            docs.append(d)
        else:
            docs.append(rng.integers(0, n_vocab, int(rng.integers(10, 101))))
    return docs


def _base_vectors(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    mats = CLUSTER_WEIGHT * centers[labels] + rng.normal(size=(n, EMB_DIM))
    mats /= np.linalg.norm(mats, axis=1, keepdims=True)
    return mats, labels


def write_corpus(dst: Path, seed: int, copies: int, base_docs: int, base_vectors: int) -> None:
    """documents.parquet and embeddings.parquet: ``copies`` copies of a
    ``base_docs``-document corpus whose first ``base_vectors`` documents
    carry an embedding."""
    rng = np.random.default_rng([seed, 1])
    dst.mkdir(parents=True, exist_ok=True)
    docs = _base_corpus(rng, base_docs)
    langs = rng.choice(LANGS, base_docs, p=LANG_WEIGHTS)
    sources = [f"src{i % 20}" for i in range(base_docs)]
    base, labels = _base_vectors(rng, base_vectors)
    vocab = np.array(VOCAB, dtype=object)
    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()), ("n_chars", pa.int64())])
    emb_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    with pq.ParquetWriter(dst / "documents.parquet", doc_schema) as dw, pq.ParquetWriter(dst / "embeddings.parquet", emb_schema) as ew:
        for c in range(copies):
            copy_rng = np.random.default_rng([seed, 2, c])
            mapped = vocab if c == 0 else vocab[copy_rng.permutation(len(vocab))]
            texts = [" ".join(mapped[d]) for d in docs]
            ids = np.arange(base_docs, dtype=np.int64) + c * base_docs
            dw.write_table(pa.table({
                "doc_id": ids, "text": texts, "lang": langs, "source": sources,
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }, schema=doc_schema))
            if c == 0:
                mat = base
            else:
                q, r = np.linalg.qr(copy_rng.normal(size=(EMB_DIM, EMB_DIM)))
                mat = base @ (q * np.sign(np.diag(r)))
            ew.write_table(pa.table({
                "vec_id": ids[:base_vectors],
                "embedding": pa.array(mat.astype(np.float32).tolist(), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }, schema=emb_schema))

