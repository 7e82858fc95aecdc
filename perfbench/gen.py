"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes the same bytes. Nothing here calls into graft; the engine only ever
sees the files written below.

  tables(dir, seed, sf)        TPC-H-shaped parquet tables (query_mix)
  sales(dir, seed, ...)        reference-shaped sales CSVs + dimensions
                               (etl_batch), with the expected totals
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector the join customer").split()


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return lo + rng.integers(0, (hi - lo).astype(int) + 1, n)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """region, nation, customer, supplier, part, orders, lineitem, events,
    documents and embeddings at scale factor `sf`: independent uniform
    columns with the row counts, join fan-outs, graph degree and per-query
    output rows of the catalog's test tables at sf0.1 (`shape.py` compares
    them). Below sf0.1 the events span fewer days, so the co-activity graph
    keeps the sf0.1 degree (~30) the graph queries are written for."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    r = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)}),
        f"{out}/supplier.parquet")

    r = _rng(seed, 3)
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"])
    types = np.array(["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")

    r = _rng(seed, 4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000, 500000),
        "o_orderdate": pa.array(_days(r, n_ord, "1995-01-01", "2001-08-01")
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, n_li, 900, 105000),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(r, n_li, "1995-01-02", "2001-11-04")
                               .astype("datetime64[us]"), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    r = _rng(seed, 6)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = int(30 * min(1.0, sf / 0.1) * 86400) * 1000000
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + np.sort(r.integers(0, span_us, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    r = _rng(seed, 7)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), r.integers(10, 100))])
             for _ in range(n_doc)]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": np.char.add("src", r.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    r = _rng(seed, 8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


PRODUCTS = {"quaker oats": 212.0, "sugar": 50.0, "maida": 20.0, "besan": 52.0,
            "refined oil": 110.0, "clinic plus": 1.5, "dantkanti": 100.0,
            "nutrella": 40.0}
STORES = {121: (1, 2, 3), 122: (4, 5, 6), 123: (7, 8, 9)}
FIRST = ["Ava", "Ben", "Cal", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
LAST = ["Ng", "Ray", "Lee", "Doe", "Kim", "Ward", "Roy", "Sen", "Das", "Rao"]
MANDATORY = ["customer_id", "store_id", "product_name", "sales_date",
             "sales_person_id", "price", "quantity", "total_cost"]


def sales(out, seed, files, rows, extra_every, bad_every, customers):
    """Sales CSVs in `out/files` plus dimension parquet in `out/dims`.

    File i carries `payment_mode` when i % extra_every == 1 and lacks
    `store_id` (so it is quarantined) when i % bad_every == bad_every - 1.
    Writes `out/expected.json`: the totals the pipeline must reproduce from
    the correct files, computed here in integer cents."""
    r = _rng(seed, 10)
    fdir = f"{out}/files"
    os.makedirs(fdir, exist_ok=True)
    names = list(PRODUCTS)
    d0 = dt.date(2023, 3, 3)
    ndays = (dt.date(2023, 8, 20) - d0).days + 1
    fact_rows, bad_files = 0, []
    cust_month = {}            # (customer, month) -> cents
    seller_month = {}          # (store, seller, month) -> cents
    for i in range(files):
        bad = i % bad_every == bad_every - 1
        extra = i % extra_every == 1
        cols = [c for c in MANDATORY if not (bad and c == "store_id")]
        if extra or bad:
            cols.append("payment_mode")
        cust = r.integers(1, customers + 1, rows)
        store = r.integers(121, 124, rows)
        seller = np.array([STORES[s][k] for s, k in zip(store, r.integers(0, 3, rows))])
        prod = r.integers(0, len(names), rows)
        day = r.integers(0, ndays, rows)
        qty = r.integers(1, 11, rows)
        pay = r.integers(0, 2, rows)
        name = f"sales_{i:03d}.csv"
        with open(f"{fdir}/{name}", "w") as f:
            f.write(",".join(cols) + "\n")
            for j in range(rows):
                p = names[prod[j]]
                price = PRODUCTS[p]
                date = d0 + dt.timedelta(days=int(day[j]))
                vals = {"customer_id": cust[j], "store_id": store[j],
                        "product_name": p, "sales_date": date.isoformat(),
                        "sales_person_id": seller[j], "price": price,
                        "quantity": qty[j], "total_cost": price * qty[j],
                        "payment_mode": ("cash", "UPI")[pay[j]]}
                f.write(",".join(str(vals[c]) for c in cols) + "\n")
                if not bad:
                    cents = round(price * 100) * int(qty[j])
                    month = date.isoformat()[:7]
                    k = (int(cust[j]), month)
                    cust_month[k] = cust_month.get(k, 0) + cents
                    k = (int(store[j]), int(seller[j]), month)
                    seller_month[k] = seller_month.get(k, 0) + cents
        if bad:
            bad_files.append(name)
        else:
            fact_rows += rows
    # rank-1 incentive per (store, month): every seller tied at the top earns it
    top = {}
    for (s, p, m), c in seller_month.items():
        top[(s, m)] = max(top.get((s, m), 0), c)
    incentive_cents = sum(c for (s, p, m), c in seller_month.items() if c == top[(s, m)])
    expected = {
        "fact_rows": fact_rows,
        "quarantined": sorted(bad_files),
        "correct_files": files - len(bad_files),
        "customer_mart_rows": len(cust_month),
        "customer_mart_total_cents": sum(cust_month.values()),
        "sales_mart_rows": len(seller_month),
        "sales_mart_total_cents": sum(seller_month.values()),
        "rank1_incentive_cents": incentive_cents,
        "rank1_rows": sum(1 for (s, p, m), c in seller_month.items() if c == top[(s, m)]),
    }

    ddir = f"{out}/dims"
    os.makedirs(ddir, exist_ok=True)
    n = customers
    _write(pa.table({
        "customer_id": pa.array(range(1, n + 1), pa.int32()),
        "first_name": [FIRST[i % 10] for i in range(n)],
        "last_name": [LAST[(i // 10) % 10] for i in range(n)],
        "address": [f"{i} Elm St" for i in range(n)],
        "pincode": [f"56{i % 10000:04d}" for i in range(n)],
        "phone_number": [f"555-{i:06d}" for i in range(n)],
        "customer_joining_date": pa.array(
            [dt.date(2021, 1, 1) + dt.timedelta(days=i % 700) for i in range(n)])}),
        f"{ddir}/customer.parquet")
    _write(pa.table({
        "id": pa.array([121, 122, 123, 124], pa.int32()),
        "address": ["MG Road", "Hill St", "Lake Rd", "Fort Ave"],
        "store_pincode": ["560001", "560004", "560007", "560009"],
        "store_manager_name": ["Dana Kim", "Eli Ward", "Gia Sen", "Hari Das"],
        "store_opening_date": pa.array([dt.date(2020, m, 1) for m in (1, 6, 9, 11)]),
        "reviews": ["good", "ok", "great", "new"]}),
        f"{ddir}/store.parquet")
    _write(pa.table({
        "id": pa.array(range(1, 11), pa.int32()),
        "first_name": FIRST,
        "last_name": LAST,
        "manager_id": pa.array([10] * 9 + [0], pa.int32()),
        "is_manager": ["N"] * 9 + ["Y"],
        "address": [f"{i} Pine Rd" for i in range(1, 11)],
        "pincode": [f"5600{i:02d}" for i in range(1, 11)],
        "joining_date": pa.array([dt.date(2022, i, 1) for i in range(1, 11)])}),
        f"{ddir}/sales_team.parquet")
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected
