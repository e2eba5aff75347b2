"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas the library's registry queries and
their DuckDB oracle SQL expect:

* the star tables (region, nation, customer, supplier, part, orders,
  lineitem, events) at a TPC-H-like scale factor, for ``pivot_report``;
* ``documents`` and ``embeddings`` for ``curation_pipeline`` and
  ``retrieval_serve``: a Zipf vocabulary of synthetic words, planted exact
  and near duplicates, and clustered unit vectors.

The same seed always gives byte-identical values. Every parameter is
returned so the run artifact can record it.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_DEFAULTS = {"sf": 0.02}

CORPUS_DEFAULTS = {
    "n_docs": 5000,
    "vocab_size": 30000,
    "zipf_s": 1.05,
    "doc_words_min": 20,
    "doc_words_max": 140,
    "exact_dup_share": 0.05,
    "near_dup_share": 0.15,
    "near_dup_edit_rate": 0.05,
    "n_vectors": 10000,
    "dim": 64,
    "n_clusters": 10,
}

LANGS = ["en"] * 41 + ["es"] * 15 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15
N_SOURCES = 20


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _micros(start, offsets_s):
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + offsets_s.astype(np.int64), type=pa.timestamp("us"))


def gen_star(out_dir, seed, sf):
    """TPC-H-like star tables; row counts scale linearly with ``sf``
    (sf = 0.1 gives 600,000 lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = max(int(6_000_000 * sf), 800)
    n_part = max(int(200_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(20_000 * sf), 20)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")

    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))}),
        f"{out_dir}/supplier.parquet")

    adjs = np.array(["large", "hot", "small", "blue", "steel", "brushed",
                     "polished", "red", "green", "frosted"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve",
                      "spring", "panel", "lamp", "wire"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "MEDIUM",
                      "SMALL"])
    p_name = np.char.add(np.char.add(adjs[rng.integers(0, 10, n_part)], " "),
                         nouns[rng.integers(0, 10, n_part)])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": p_name,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 110_000, n_part) / 100.0, 2))}),
        f"{out_dir}/part.parquet")

    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": status[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": pa.array(np.round(rng.integers(100_000, 50_000_000, n_ord) / 100.0, 2)),
        "o_orderdate": _micros(dt.datetime(1992, 1, 1),
                               rng.integers(0, 3650, n_ord) * 86400 * 1_000_000),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90_000, 210_000, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": flags[rng.integers(0, 3, n_li)],
        "l_linestatus": lstat[rng.integers(0, 2, n_li)],
        "l_shipdate": _micros(dt.datetime(1992, 1, 1),
                              rng.integers(0, 3650, n_li) * 86400 * 1_000_000)}),
        f"{out_dir}/lineitem.parquet")

    ev_types = np.array(["view", "click", "purchase", "error", "signup"])
    ev_ts = np.sort(rng.integers(0, 3 * 86400 * 1_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _micros(dt.datetime(2024, 1, 1), ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": ev_types[rng.choice(5, n_ev, p=[0.5, 0.25, 0.1, 0.1, 0.05])],
        "value": pa.array(np.round(rng.integers(0, 50_000, n_ev) / 100.0, 2)),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")}),
        f"{out_dir}/events.parquet")
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord,
            "customer_rows": n_cust, "part_rows": n_part, "events_rows": n_ev}


STOPWORDS = ["the", "and", "of", "to", "a", "is", "in", "for", "on", "with",
             "be", "that", "have"]


def _vocab(rng, size):
    """``size`` distinct lower-case alphabetic words: the English stopwords
    the quality gates look for take the top Zipf ranks, then synthetic
    words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 10, n)
        chars = letters[rng.integers(0, 26, (n, 9))]
        for row, k in zip(chars, lens):
            w = "".join(row[:k])
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words)


def gen_corpus(out_dir, seed, p):
    """``documents`` (Zipf text with planted exact and near duplicates) and
    ``embeddings`` (unit vectors around ``n_clusters`` centres)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, p["vocab_size"])
    ranks = np.arange(1, p["vocab_size"] + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -p["zipf_s"])
    cdf /= cdf[-1]

    def draw(k):
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(k)),
                                p["vocab_size"] - 1)]

    n = p["n_docs"]
    n_exact = int(n * p["exact_dup_share"])
    n_near = int(n * p["near_dup_share"])
    n_orig = n - n_exact - n_near
    texts = []
    for _ in range(n_orig):
        k = int(rng.integers(p["doc_words_min"], p["doc_words_max"] + 1))
        texts.append(draw(k))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_orig))].copy())
    for _ in range(n_near):
        src = texts[int(rng.integers(0, n_orig))].copy()
        edits = rng.random(len(src)) < p["near_dup_edit_rate"]
        src[edits] = draw(int(edits.sum()))
        texts.append(src)
    order = rng.permutation(n)
    text = [" ".join(texts[i]) for i in order]
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": langs,
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))}),
        f"{out_dir}/documents.parquet")

    nv, dim, nc = p["n_vectors"], p["dim"], p["n_clusters"]
    centres = rng.normal(size=(nc, dim))
    label = rng.integers(0, nc, nv)
    v = centres[label] + 0.6 * rng.normal(size=(nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, nv * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32))}),
        f"{out_dir}/embeddings.parquet")
    return dict(p)
