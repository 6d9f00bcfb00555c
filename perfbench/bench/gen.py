"""Seeded input generator.

Everything graft sees in a benchmark run comes from here, and the same
seed gives the same inputs: the sf-scaled star schema plus the text and
vector corpus (the shape of the repository's test tables), the users
bodies the extract job fetches, each client's SQL order, the drain order
and the name of the fresh corpus copy.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
PART_ADJ = ("small", "red", "hot", "cold", "large", "old", "new", "blue")
PART_NOUN = ("ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
EMB_DIM = 64
EMB_LABELS = 10

CITIES = ("Gwenborough Wisokyburgh McKenziehaven SouthElvis Roscoeview "
          "SouthChristy Howemouth Aliyaview Bartholomebury Lebsackbury "
          "Harrisonburg Kellyville Dorisfort Marvinbury Hermannside "
          "Ottoborough Lakinview Westfield Rosamondchester Kozeyfurt "
          "Raymondborough Nitzscheland Adamsbury Streichview Cormierbury "
          "Gloverton Wymanmouth Franeckiside Yostside Carloshaven").split()
CITY_ZIPF_S = 1.1


def rng(seed, stream):
    """Independent generator per (seed, stream name): adding a table or a
    draw to one stream leaves every other stream's values unchanged."""
    key = int.from_bytes(stream.encode(), "little") % (2 ** 63)
    return np.random.Generator(np.random.PCG64([seed, key]))


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(20, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf), "users": max(50, int(15_000 * sf)),
        "documents": int(50_000 * sf),
        "embeddings": min(int(50_000 * sf), max(500, int(20_000 * sf))),
    }


def _ts(days_from, days_to, r, n, start=datetime.datetime(1995, 1, 1)):
    base = np.datetime64(start, "us")
    d = r.integers(days_from, days_to, n).astype("timedelta64[D]")
    return (base + d).astype("datetime64[us]")


def _choice(r, opts, n, p=None):
    return np.asarray(opts, dtype=object)[r.choice(len(opts), n, p=p)]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_tables(seed, sf, out):
    """Write the relational tables (region .. events) under `out`."""
    n = sizes(sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    r = rng(seed, "nation")
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})

    r = rng(seed, "customer")
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _choice(r, SEGMENTS, nc).tolist()})

    r = rng(seed, "supplier")
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})

    r = rng(seed, "part")
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_choice(r, PART_ADJ, npart),
                                               _choice(r, PART_NOUN, npart))],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, npart)],
        "p_type": _choice(r, PART_TYPES, npart).tolist(),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})

    r = rng(seed, "orders")
    no = n["orders"]
    # ~3 % of customers place no order, so the anti-join has rows
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, max(1, int(nc * 0.97)), no), pa.int64()),
        "o_orderstatus": _choice(r, ("F", "O", "P"), no).tolist(),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(0, 2404, r, no),
        "o_orderpriority": _choice(r, PRIORITIES, no).tolist()})

    r = rng(seed, "lineitem")
    per = r.integers(1, 8, no)
    nl = int(per.sum())
    okey = np.repeat(np.arange(no), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(r, ("A", "N", "R"), nl).tolist(),
        "l_linestatus": _choice(r, ("F", "O"), nl).tolist(),
        "l_shipdate": _ts(1, 2499, r, nl)})

    r = rng(seed, "events")
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + r.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts,
        "user_id": pa.array(r.integers(0, n["users"], ne), pa.int64()),
        "event_type": _choice(r, EVENT_TYPES, ne).tolist(),
        "value": np.round(r.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})


def corpus_tables(seed, sf, out):
    """Write `documents` and `embeddings`: random-vocabulary texts with
    planted exact and near duplicates, and unit vectors clustered by
    label with planted near-duplicate vectors."""
    n = sizes(sf)
    r = rng(seed, "documents")
    nd = n["documents"]
    texts = []
    for i in range(nd):
        roll = r.random()
        if i > 10 and roll < 0.002:                       # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.05:                      # near duplicate
            words = texts[int(r.integers(0, i))].split(" ")
            words[int(r.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[k] for k in r.integers(0, len(VOCAB),
                                                               int(r.integers(8, 100)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _choice(r, LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{k}" for k in np.arange(nd) % 20],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(seed, "embeddings")
    nv = n["embeddings"]
    centers = r.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, nv)
    vecs = centers[labels] + r.normal(0.0, 1.6, (nv, EMB_DIM))
    near = np.flatnonzero(r.random(nv) < 0.03)
    near = near[near > 0]
    src = r.integers(0, near, len(near)) if len(near) else near
    vecs[near] = vecs[src] + r.normal(0.0, 0.05, (len(near), EMB_DIM))
    labels[near] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_tables(seed, sf, out):
    os.makedirs(out, exist_ok=True)
    star_tables(seed, sf, out)
    corpus_tables(seed, sf, out)


def _phone(r, i):
    kind = i % 4
    a, b, c = r.integers(100, 1000, 3)
    if kind == 0:
        return f"1-{a}-{b}-{c}{i % 10} x{int(r.integers(100, 99999))}"
    if kind == 1:
        return f"({a}) {b}-{c}{i % 10}"
    if kind == 2:
        return f"{a}-{b}-{c}{i % 10}"
    return f"+{a}.{b}.{c}"


def city_weights():
    w = 1.0 / np.arange(1, len(CITIES) + 1) ** CITY_ZIPF_S
    return w / w.sum()


def users_bodies(seed, cycles, per_cycle):
    """One JSON array body per daily cycle, in the JSONPlaceholder `/users`
    shape. Cities are Zipf-skewed; about 6 % of records lack `address`,
    4 % lack `company`, 2 % carry an address with a null city; 10 % of
    websites are empty and some emails repeat. Returns the bodies and the
    known answer: per-city counts over all cycles (None for a missing
    city) and the record count."""
    r = rng(seed, "users")
    p = city_weights()
    bodies, city_counts, uid = [], {}, 0
    for _ in range(cycles):
        recs = []
        for _ in range(per_cycle):
            uid += 1
            rec = {
                "id": uid, "name": f"User {uid}", "username": f"user{uid}",
                "email": f"u{uid % max(1, per_cycle * cycles - 7)}@example.org",
                "phone": _phone(r, uid),
                "website": "" if r.random() < 0.10 else f"site{uid}.org",
            }
            roll = r.random()
            city = None
            if roll >= 0.06:
                city = None if roll < 0.08 else CITIES[int(r.choice(len(CITIES), p=p))]
                rec["address"] = {
                    "street": f"{uid} Main St", "suite": f"Apt. {uid % 900}",
                    "city": city, "zipcode": f"{10000 + uid % 89999}",
                    "geo": {"lat": f"{r.uniform(-80, 80):.4f}",
                            "lng": f"{r.uniform(-170, 170):.4f}"}}
            if r.random() >= 0.04:
                rec["company"] = {"name": f"Company {uid % 37}",
                                  "catchPhrase": "Multi-layered client-server neural-net",
                                  "bs": "harness real-time e-markets"}
            city_counts[city] = city_counts.get(city, 0) + 1
            recs.append(rec)
        bodies.append(json.dumps(recs))
    return bodies, {"records": cycles * per_cycle, "city_counts": city_counts}


def orders_for(seed, stream, items, length):
    """`length` items drawn from `items` in a seeded order: whole
    permutations back to back, so every item appears equally often."""
    r = rng(seed, stream)
    out = []
    while len(out) < length:
        out.extend(items[k] for k in r.permutation(len(items)))
    return out[:length]


def copy_name(seed, cycle):
    return f"corpus-{seed}-{cycle}-{int(rng(seed, f'copy{cycle}').integers(0, 2**32)):08x}"
