"""Seeded input generators for the benchmark.

`tables(dir, sf, seed)` writes TPC-H-shaped parquet tables with the schema
graft's pipeline inventory is written against (customer, supplier, part,
orders, lineitem, events, documents), and their row counts to rows.json.
Sizes scale with `sf` as in TPC-H (sf 0.01: 60k lineitem, 15k orders).
`corpus(dir, n_docs, seed)` writes a
curation corpus with seeded near-duplicate edit tiers plus its embeddings,
an eval set for decontamination, and returns its tier counts.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue old red small new large hot cold".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000          # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000        # 2024-01-01T00:00:00Z in µs


def _write(path, cols):
    t = pa.table(cols)
    pq.write_table(t, path)
    return t.num_rows


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs_text(rng, n, lo=8, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def tables(out_dir, sf, seed):
    """Write the TPC-H-shaped tables at scale `sf`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)

    rows = {}

    def path(t):
        return os.path.join(out_dir, f"{t}.parquet")

    k = np.arange(n_cust, dtype=np.int64)
    rows["customer"] = _write(path("customer"), {
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n_cust)})
    k = np.arange(n_supp, dtype=np.int64)
    rows["supplier"] = _write(path("supplier"), {
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    k = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    rows["part"] = _write(path("part"), {
        "p_partkey": k,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})
    k = np.arange(n_ord, dtype=np.int64)
    days = rng.integers(0, 2404, n_ord)          # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(path("orders"), {
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + days * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    per = rng.integers(1, 8, n_ord)            # 1..7 lines, mean 4
    n = int(per.sum())
    okey = np.repeat(k, per)
    start = np.repeat(np.cumsum(per) - per, per)
    rows["lineitem"] = _write(path("lineitem"), {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": (np.arange(n) - start + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _ts(EPOCH_1995 + (np.repeat(days, per) +
                                        rng.integers(1, 122, n)) * DAY_US)})
    n = int(1_000_000 * sf)
    rows["events"] = _write(path("events"), {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]})
    n = int(50_000 * sf)
    text = _docs_text(rng, n)
    rows["documents"] = _write(path("documents"), {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    with open(os.path.join(out_dir, "rows.json"), "w") as f:
        json.dump(rows, f)


# near-duplicate edit tiers of the curation corpus: name -> share of docs
TIERS = (("exact", 0.10), ("near", 0.15), ("span", 0.10))


def corpus(out_dir, n_docs, seed, dim=64, n_eval=40, eval_leaks=0.02):
    """Write docs.parquet, emb.parquet and eval.parquet for the curate
    workload and return {tier: docs} counts.

    Base documents draw words from a wide vocabulary so distinct documents
    share few shingles. Tier `exact` copies an earlier document verbatim,
    `near` copies one and substitutes ~5% of its words, `span` splices a
    40-word passage of an earlier document into a fresh one. A share of
    documents carries a 20-word passage of an eval document (contaminated).
    Embeddings are clustered unit vectors; duplicates get a small jitter
    of their source's vector."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(4000)])
    lens = rng.integers(60, 240, n_docs)
    tier = np.full(n_docs, "base", dtype=object)
    src = np.full(n_docs, -1)
    u = rng.random(n_docs)
    lo = 0.0
    for name, share in TIERS:
        pick = (u >= lo) & (u < lo + share) & (np.arange(n_docs) > 10)
        tier[pick] = name
        src[pick] = (rng.random(pick.sum()) * np.arange(n_docs)[pick]).astype(int)
        lo += share
    evals = [vocab[rng.integers(0, len(vocab), 60)] for _ in range(n_eval)]
    leak = rng.random(n_docs) < eval_leaks
    words = []
    for i in range(n_docs):
        t = tier[i]
        if t == "exact":
            w = words[src[i]].copy()
        elif t == "near":
            w = words[src[i]].copy()
            hit = rng.random(len(w)) < 0.05
            w[hit] = vocab[rng.integers(0, len(vocab), hit.sum())]
        else:
            w = vocab[rng.integers(0, len(vocab), lens[i])]
            if t == "span":
                s = words[src[i]]
                a = int(rng.integers(0, max(1, len(s) - 40)))
                cut = int(rng.integers(0, len(w)))
                w = np.concatenate([w[:cut], s[a:a + 40], w[cut:]])
        if leak[i] and t == "base":
            e = evals[int(rng.integers(0, n_eval))]
            a = int(rng.integers(0, 40))
            cut = int(rng.integers(0, len(w)))
            w = np.concatenate([w[:cut], e[a:a + 20], w[cut:]])
        words.append(w)
    text = [" ".join(w) + "." for w in words]
    centers = rng.normal(size=(32, dim))
    vec = centers[rng.integers(0, 32, n_docs)] + rng.normal(scale=0.6, size=(n_docs, dim))
    dup = src >= 0
    vec[dup] = vec[src[dup]] + rng.normal(scale=0.01, size=(dup.sum(), dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    ids = np.arange(n_docs, dtype=np.int64)
    _write(os.path.join(out_dir, "docs.parquet"), {
        "doc_id": ids, "text": text,
        "lang": rng.choice(["en", "es", "de"], n_docs),
        "quality_hint": rng.random(n_docs)})
    _write(os.path.join(out_dir, "emb.parquet"), {
        "doc_id": ids,
        "embedding": pa.array(list(vec.astype(np.float32)),
                              type=pa.list_(pa.float32()))})
    _write(os.path.join(out_dir, "eval.parquet"), {
        "eval_id": np.arange(n_eval, dtype=np.int64),
        "text": [" ".join(e) for e in evals]})
    counts = {name: int((tier == name).sum()) for name, _ in TIERS}
    counts["base"] = int((tier == "base").sum())
    counts["leaked"] = int((leak & (tier == "base")).sum())
    return counts
