"""Seeded input generator for the benchmark.

Every table is a pure function of (kind, scale, seed): the same arguments
write byte-identical parquet files, another seed writes same-sized files
with different rows. Nothing is read from outside the output directory.

Kinds:
  tables   TPC-H-ish star schema plus `events`, `documents`, `embeddings`,
           with the shapes and value domains of the repo's sf* test tables
           (the column contract every query in SparkEntry reads).
  vendor   two snapshots of raw priced vendor products (AWS-style terms
           JSON, region names or aliases, zone offerings) with a planted
           change set, and a benchmark-score fact table; the planted counts
           go to expected.json for the output check.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _write(df, path, schema=None):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng, sf, out):
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
           f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}), f"{out}/supplier.parquet")
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}), f"{out}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")


def base_documents(rng, n):
    """Bag-of-words documents over a 30-word vocabulary, 10-99 words each;
    ~5% are an earlier-drawn document's text plus a ' dup' marker."""
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    dups = rng.choice(n, size=n // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def base_embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v.astype(np.float32)),
                         "label": rng.integers(0, 10, n).astype(np.int32)})


EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def gen_tables(out, seed, sf, n_docs, n_emb):
    rng = np.random.default_rng(seed)
    star_tables(rng, sf, out)
    _write(base_documents(rng, n_docs), f"{out}/documents.parquet")
    _write(base_embeddings(rng, n_emb), f"{out}/embeddings.parquet", EMB_SCHEMA)


# ---- vendor inventory ------------------------------------------------------

FAMILIES = ["m", "c", "r", "t", "i", "x", "p", "g"]
SIZES = ["large", "xlarge", "2xlarge", "4xlarge", "8xlarge"]
OSES = ["linux", "windows"]


def _terms(price, eur):
    cur = "EUR" if eur else "USD"
    return ('{"OnDemand": {"sku": {"priceDimensions": {"dim": {"pricePerUnit": '
            f'{{"{cur}": "{price}"}}, "beginRange": "0", "endRange": "Inf"}}}}}}}}}}')


def gen_vendor(out, seed, n_types, n_regions, n_units, n_scores):
    """Snapshot 1 has n_types instance types priced in every region for
    both operating systems, each fanned out to 1-3 zones. Snapshot 2
    reprices 5% of the products, drops 1% and adds 1% (new instance types),
    all chosen by the seed."""
    rng = np.random.default_rng(seed)
    combos = [f"{f}{g}{x}" for g in (5, 6, 7, 8) for x in ("", "d", "g", "n", "gd")
              for f in FAMILIES]
    types = [f"{combos[i % len(combos)]}.{SIZES[(i // len(combos)) % 5]}"
             f"{'' if i < 5 * len(combos) else i}" for i in range(n_types)]
    assert len(set(types)) == n_types
    regions = pd.DataFrame({
        "name": [f"reg-{r}" for r in range(n_regions)],
        "aliases": [[f"Region {r}", f"Loc {r}"] for r in range(n_regions)],
        "region_id": [f"reg-{r}" for r in range(n_regions)]})
    _write(regions, f"{out}/regions.parquet")

    # products: one row per (type, region, os); location spelled by name or
    # by either alias
    prod = pd.DataFrame([(t, r, o) for t in types for r in range(n_regions) for o in OSES],
                        columns=["instance_type", "region", "operating_system"])
    n = len(prod)
    prod["location"] = [(f"reg-{r}", f"Region {r}", f"Loc {r}")[k]
                        for r, k in zip(prod["region"], rng.integers(0, 3, n))]
    prod["price"] = np.round(rng.uniform(0.005, 30.0, n), 4)
    prod["eur"] = rng.random(n) < 0.1
    # zone offerings per (type, region)
    tr = prod[["instance_type", "region"]].drop_duplicates().reset_index(drop=True)
    tr["zones"] = rng.integers(1, 4, len(tr))
    n_new_types = max(1, n_types // 100)
    new_types = [f"z9n{i}.metal" for i in range(n_new_types)]
    new_tr = pd.DataFrame([(t, r) for t in new_types for r in range(n_regions)],
                          columns=["instance_type", "region"])
    new_tr["zones"] = rng.integers(1, 4, len(new_tr))
    all_tr = pd.concat([tr, new_tr], ignore_index=True)
    offerings = pd.DataFrame(
        [(t, f"reg-{r}", f"reg-{r}-az{z}") for t, r, k in
         zip(all_tr["instance_type"], all_tr["region"], all_tr["zones"]) for z in range(k)],
        columns=["instance_type", "region_id", "zone_id"])
    _write(offerings, f"{out}/offerings.parquet")
    zones = dict(zip(zip(all_tr["instance_type"], all_tr["region"]), all_tr["zones"]))

    # planted change set over products (not over fanned rows)
    idx = rng.permutation(n)
    n_rep, n_gone = int(n * 0.05), int(n * 0.01)
    repriced, gone = idx[:n_rep], idx[n_rep:n_rep + n_gone]
    snap2 = prod.copy()
    snap2.loc[repriced, "price"] = np.round(snap2.loc[repriced, "price"] * 1.1 + 0.001, 4)
    snap2 = snap2.drop(index=gone)
    new_prod = pd.DataFrame([(t, r, o) for t in new_types for r in range(n_regions) for o in OSES],
                            columns=["instance_type", "region", "operating_system"])
    new_prod["location"] = [f"reg-{r}" for r in new_prod["region"]]
    new_prod["price"] = np.round(rng.uniform(0.005, 30.0, len(new_prod)), 4)
    new_prod["eur"] = False
    snap2 = pd.concat([snap2, new_prod], ignore_index=True)

    def fanned(df):
        return int(sum(zones[(t, r)] for t, r in zip(df["instance_type"], df["region"])))

    for name, df in (("snapshot1", prod), ("snapshot2", snap2)):
        raw = pd.DataFrame({
            "instance_type": df["instance_type"].values,
            "location": df["location"].values,
            "operating_system": df["operating_system"].values,
            "terms": [_terms(p, e) for p, e in zip(df["price"], df["eur"])]})
        # shuffled row order, as an API page sequence would deliver it
        raw = raw.iloc[rng.permutation(len(raw))].reset_index(drop=True)
        _write(raw, f"{out}/{name}.parquet")

    # benchmark scores: n_scores runs of 4 benchmarks on n_units units,
    # lognormal like throughput figures (always positive)
    benches = ["bw_mem:rd", "bw_mem:wr", "stress:cpu", "redis:rps"]
    units = rng.integers(0, n_units, n_scores)
    bidx = rng.integers(0, len(benches), n_scores)
    scores = pd.DataFrame({
        "unit_id": [f"u{u}" for u in units],
        "benchmark_id": [benches[b] for b in bidx],
        "score": np.round(rng.lognormal(3.0, 0.6, n_scores), 3)})
    _write(scores, f"{out}/scores.parquet")

    rows1 = fanned(prod)
    expected = {
        "initial_rows": rows1,
        "sync_new": fanned(new_prod),
        "sync_update": fanned(prod.iloc[repriced]),
        "sync_deleted": fanned(prod.iloc[gone]),
        "n_units": int(len(set(units.tolist()))),
    }
    expected["sync_unchanged"] = (rows1 - expected["sync_update"] - expected["sync_deleted"])
    expected["final_rows"] = rows1 + expected["sync_new"]
    expected["final_inactive"] = expected["sync_deleted"]
    expected["scd_rows"] = (expected["sync_new"] + expected["sync_update"]
                            + expected["sync_deleted"])
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)


def generate(kind, out, seed, **size):
    """Write the inputs for `kind` into `out` (created if missing)."""
    os.makedirs(out, exist_ok=True)
    if kind == "vendor":
        gen_vendor(out, seed, **size)
    else:
        gen_tables(out, seed, **size)
