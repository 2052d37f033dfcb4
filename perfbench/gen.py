"""Seeded input generator for the graft benchmark.

Every table mirrors the schema, physical parquet types and value domains
of the engine's fixture family (part of the TPC-H-ish star schema,
`events` day files, a text corpus and an embedding table), so the
registered queries and their DuckDB oracles run unchanged on the
generated files. The same
seed always yields byte-identical files: numpy's PCG64 stream drives all
values and pyarrow writes no timestamps into the files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Words of the fixture corpus ('dup' only ever marks planted near-dups).
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
BOILERPLATE = ("subscribe to the weekly digest for more stories terms and "
               "privacy apply").split()

# Input tables and sizes per workload: `sf` scales the star schema in the
# fixture's units (sf1 = 6M lineitem rows); the rest are corpus and
# backfill knobs. Each workload gets only the tables its ops read, which
# keeps ANALYZE (inside setup_s) proportional to what the ops use.
SIZES = {
    "taxi_backfill": {"tables": ("nation",), "days": 30,
                      "trips_per_day": 3300},
    # x_shortest_path walks the customer/orders/lineitem graph
    "corpus_curation": {"tables": ("customer", "orders", "lineitem"),
                        "sf": 0.002, "docs": 300, "copies": 2,
                        "boilerplate_docs": 30, "vectors": 1000},
}

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(out_dir, name, cols):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, compression="snappy")
    return path


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng, start, end, n):
    days = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    d = np.datetime64(start, "D") + rng.integers(0, days + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def star_schema(rng, out_dir, sf, tables):
    """The requested subset of nation, customer, orders and lineitem
    (foreign keys always span the full key ranges, part and supplier
    keys included)."""
    def write(name, cols):
        if name in tables:
            _write(out_dir, name, cols)
    write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _midnights(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _midnights(rng, "1995-01-02", "2001-11-04", n_li)})


def events_cols(rng, n, n_users, days):
    """`events` rows spread uniformly over `days` days of January 2024,
    ordered by ts like the fixture, with planted zero and NULL rows for
    the pipeline's normalize stage to drop."""
    span = days * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n)) + EPOCH_2024.astype(np.int64)
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    value = np.round(rng.exponential(40.0, n) + 0.01, 2)
    user = rng.integers(0, n_users, n)
    r = rng.random(n)
    value[r < 0.01] = 0.0
    value_mask = (r >= 0.01) & (r < 0.02)
    user_mask = (r >= 0.02) & (r < 0.03)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64(), mask=user_mask),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": pa.array(value, pa.float64(), mask=value_mask),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def corpus(rng, out_dir, docs, copies, boilerplate_docs):
    """The fixture-shaped corpus (5% planted `text + ' dup'` near-dups, a
    boilerplate shingle planted in `boilerplate_docs` documents),
    replicated `copies` times with per-copy token tagging so near-dup
    density grows linearly with the copy count."""
    vocab = np.array(VOCAB)
    base = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
            for _ in range(docs)]
    # near-dups copy originals only: no dup-of-dup chains, so the
    # near-dup graph's depth (the components rounds) is the same every seed
    n_orig = docs - docs // 20
    for i in range(n_orig, docs):
        base[i] = base[rng.integers(0, n_orig)] + " dup"
    for i in rng.choice(docs, min(boilerplate_docs, docs), replace=False):
        words = base[i].split(" ")
        at = int(rng.integers(0, len(words) + 1))
        base[i] = " ".join(words[:at] + BOILERPLATE + words[at:])
    langs = np.array(["en"] * 3 + ["de", "es", "fr", "zh"])
    base_lang = langs[rng.integers(0, len(langs), docs)]
    text, lang, source = [], [], []
    for cp in range(copies):
        for i, t in enumerate(base):
            text.append(t if cp == 0 else
                        " ".join(f"w{cp}x{w}" for w in t.split(" ")))
            lang.append(base_lang[i])
            source.append(f"src{(cp * docs + i) % 20}")
    n = len(text)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text, "lang": lang, "source": source,
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def embeddings(rng, out_dir, n, dim=64, plant_every=25):
    """Unit vectors with a planted cos ~ 0.95 twin per `plant_every`."""
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    base = v[::plant_every]
    twins = base * (1 + 0.33 * rng.choice([-1.0, 1.0], base.shape))
    twins /= np.linalg.norm(twins, axis=1, keepdims=True)
    allv = np.vstack([v, twins]).astype(np.float32)
    m = len(allv)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})


def generate(workload, seed, out_dir):
    """Write the workload's inputs under `out_dir`; returns its size dict."""
    size = SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    star_schema(rng, out_dir, size.get("sf", 0), size["tables"])
    if workload == "taxi_backfill":
        n = size["days"] * size["trips_per_day"]
        # day files only: the pipeline reads nothing else, so ANALYZE of a
        # whole-month table would be set-up work no op uses
        table = pa.table(events_cols(rng, n, max(150, n // 66), size["days"]))
        day = pc.strftime(table["ts"], format="%Y/%m/%d")
        for d in sorted(set(day.to_pylist())):
            ddir = os.path.join(out_dir, "src", d)
            os.makedirs(ddir, exist_ok=True)
            pq.write_table(table.filter(pc.equal(day, d)),
                           os.path.join(ddir, "part-00000.parquet"),
                           compression="snappy")
    else:
        corpus(rng, out_dir, size["docs"], size["copies"],
               size["boilerplate_docs"])
        embeddings(rng, out_dir, size["vectors"])
    return size


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in SIZES:
        sys.exit(f"usage: gen.py <{'|'.join(sorted(SIZES))}> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
