"""Input tables for the benchmark: the star schema the registry entries read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the schemas, value
domains and writer (pandas/pyarrow, microsecond timestamps without a zone)
of the engine's test fixtures. Row counts follow TPC-H at scale factor
`scale`; the same seed gives the same bytes.
"""
import datetime
import os

import numpy as np
import pandas as pd

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query filter stream group vector").split()


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def tables(scale, seed):
    """Table name -> pandas frame."""
    rng = np.random.Generator(np.random.PCG64(seed))

    def n(base):
        return max(1, round(base * scale))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(xs, k, p=None):
        return np.asarray(xs, dtype=object)[rng.choice(len(xs), k, p=p)]

    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_evt = n(1_500_000), n(6_000_000), n(1_000_000)
    n_docs, n_vecs = max(500, n(50_000)), max(500, n(20_000))
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": pick(["small", "red", "hot", "blue", "old", "large", "cold",
                        "new"], n_part) + " " +
        pick(["ring", "widget", "bolt", "gear", "rod", "plate", "gizmo",
              "anvil"], n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": money(0, 0.1, n_line),
        "l_tax": money(0, 0.08, n_line),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    month_us = 30 * 86400 * 10**6
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(
            rng.integers(0, month_us, n_evt)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_evt),
        "event_type": pick(["click", "signup", "error", "view", "purchase"],
                           n_evt),
        "value": money(0.01, 500, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # One document in five is an edited copy of an earlier one (same lang
    # and source, one word in twenty replaced), and copies of copies form
    # chains, so the dedup and connected-component operators have clusters
    # to find and rounds to run.
    lang = pick(["en", "de", "es", "fr", "zh"], n_docs,
                p=[0.44, 0.14, 0.14, 0.14, 0.14])
    source = np.asarray([f"src{i % 20}" for i in range(n_docs)], dtype=object)
    docs = []
    for j, k in enumerate(rng.integers(8, 98, n_docs)):
        if docs and rng.random() < 0.2:
            o = rng.integers(0, len(docs))
            d = list(docs[o])
            for i in np.flatnonzero(rng.random(len(d)) < 0.05):
                d[i] = WORDS[rng.integers(0, len(WORDS))]
            lang[j], source[j] = lang[o], source[o]
        else:
            d = [WORDS[i] for i in rng.integers(0, len(WORDS), k)]
        docs.append(d)
    text = [" ".join(d) for d in docs]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text, "lang": lang, "source": source,
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    # Unit vectors scattered around one of ten label centroids.
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels})
    return out


def write(directory, scale, seed):
    os.makedirs(directory, exist_ok=True)
    for name, df in tables(scale, seed).items():
        df.to_parquet(os.path.join(directory, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    import sys
    t = datetime.datetime.now()
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
    print((datetime.datetime.now() - t).total_seconds())
