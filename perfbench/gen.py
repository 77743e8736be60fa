"""Seeded input generator for the benchmark.

Writes the TPC-H-ish fixture tables (the schemas of FIXTURES.md, so the
`SparkEntry` stories and their oracle SQL run on them unchanged) at a
chosen scale factor, plus the `table_churn` change sets. Everything is a
pure function of (seed, scale): the same seed gives byte-identical
inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PWORDS = ["large", "hot", "blue", "ring", "bolt", "red", "steel", "nut",
          "green", "pipe", "small", "gear"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US = pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(base, offsets_us):
    epoch = int(dt.datetime(*base).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(epoch + offsets_us.astype(np.int64), type=pa.int64()).cast(US)


def star(rng, out, sf, tables):
    """Star-schema tables at scale `sf` (sf=0.1: 600k lineitem rows)."""
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    if "region" in tables:
        _write(out, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in tables:
        _write(out, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in tables:
        _write(out, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    if "supplier" in tables:
        _write(out, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    if "part" in tables:
        w = np.array(PWORDS)
        names = np.char.add(np.char.add(w[rng.integers(0, len(w), n_part)], " "),
                            w[rng.integers(0, len(w), n_part)])
        _write(out, "part", {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    if "orders" in tables or "lineitem" in tables:
        day_us = 86_400 * 10**6
        odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
        if "orders" in tables:
            _write(out, "orders", {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _ts((1995, 1, 1), odays * day_us),
                "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, n_ord)]})
        if "lineitem" in tables:
            per = rng.integers(1, 8, n_ord)
            n_li = int(per.sum())
            okey = np.repeat(np.arange(n_ord), per)
            start = np.repeat(np.cumsum(per) - per, per)
            qty = rng.integers(1, 51, n_li).astype(np.float64)
            ship = np.repeat(odays, per) + rng.integers(1, 122, n_li)
            _write(out, "lineitem", {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - start + 1, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.integers(9000, 21000, n_li) / 10.0, 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts((1995, 1, 1), ship * day_us)})
    if "events" in tables:
        n_ev = int(1_000_000 * sf)
        n_users = max(10, int(15_000 * sf))
        ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
        _write(out, "events", {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts((2024, 1, 1), ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def documents(rng, out, n_docs, dup_frac=0.05):
    """Word-salad corpus; `dup_frac` of the documents are near-copies of
    an earlier one (one token replaced by `dup`), so near-duplicate and
    verbatim-span detection have real work to find. Returns the number
    of token 4-grams."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    toks = [vocab[rng.integers(0, len(vocab), k)] for k in lens]
    for i in np.nonzero(rng.random(n_docs) < dup_frac)[0]:
        if i == 0:
            continue
        src = toks[int(rng.integers(0, i))].copy()
        src[int(rng.integers(0, len(src)))] = "dup"
        toks[i] = src
    text = [" ".join(t) for t in toks]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    return int(sum(max(0, len(t) - 3) for t in toks))


def embeddings(rng, out, n_vec, dim=64):
    """Vectors (dim 64, float32) on an 8-dimensional linear manifold plus
    small noise: real embeddings have low intrinsic dimension, which is
    what lets IVF-PQ keep its recall."""
    z = rng.normal(0.0, 1.0, (n_vec, 8))
    v = (z @ rng.normal(0.0, 0.125 / np.sqrt(8), (8, dim))
         + rng.normal(0.0, 0.01, (n_vec, dim))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def churn_ops(rng, n_orders, rounds):
    """The `table_churn` change sets: per round one merge (updates of
    existing keys + inserts of new keys), one delete, one update and one
    append. Each write works on a seeded 600-key range, narrow beside the
    ~9,400 keys of one clustered file, so most rounds touch one file and
    the seed moves the cost little. Inserted keys never collide, so every
    op changes rows and none fails."""
    ops = []
    next_key = n_orders
    for r in range(rounds):
        def lo():
            return int(rng.integers(0, n_orders - 600))
        m = lo()
        ins = list(range(next_key, next_key + 300))
        next_key += 300
        d, u = lo(), lo()
        app = list(range(next_key, next_key + 500))
        next_key += 500
        ops.append({
            "round": r,
            "merge": {"update_keys": sorted(set(int(k) for k in rng.integers(m, m + 600, 300))),
                      "insert_keys": ins,
                      "price_delta": round(float(rng.integers(1, 1000)) / 10, 1)},
            # every 3rd key of the range: scattered rows, the deletion-vector shape
            "delete": {"lo": d, "hi": d + 600, "mod": 3, "rem": int(rng.integers(0, 3))},
            "update": {"lo": u, "hi": u + 600,
                       "status": ["F", "O", "P"][int(rng.integers(0, 3))]},
            "append": {"keys": app},
            "point": [int(k) for k in rng.integers(0, n_orders, 2)],
        })
    return ops


def fed_params(rng):
    """Seeded parameters of the federated plans."""
    return {"min_price": float(rng.choice([100_000, 150_000, 200_000, 250_000, 300_000])),
            "status": str(rng.choice(["F", "O", "P"])),
            "skip_year": int(rng.integers(1995, 2002))}


def generate(workload, seed, out, scales):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x9E3779B9])
    spec = {"workload": workload, "seed": seed}
    if workload == "pig_scripts":
        star(rng, out, scales["pig_sf"], {"region", "nation", "customer", "supplier",
                                          "part", "orders", "lineitem", "events"})
        documents(rng, out, int(50_000 * scales["pig_sf"]))
    elif workload == "federated":
        star(rng, out, scales["fed_sf"], {"nation", "customer", "orders", "lineitem"})
        spec["fed"] = fed_params(rng)
    elif workload == "curation":
        spec["ngrams4"] = documents(rng, out, scales["docs"])
        embeddings(rng, out, scales["vectors"])
    elif workload == "table_churn":
        star(rng, out, scales["churn_sf"], {"orders", "customer"})
        spec["fed"] = fed_params(rng)
        spec["n_orders"] = int(1_500_000 * scales["churn_sf"])
        spec["churn"] = churn_ops(rng, spec["n_orders"], scales["churn_rounds"])
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec
