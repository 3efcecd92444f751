"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft reads (see TESTDATA.md) as one parquet file
each, with the schema of the shipped synthetic corpus: a TPC-H-ish star
schema, an `events` stream table, a `documents` text corpus with ~5%
near-duplicates, and unit-norm 64-d `embeddings`. Row counts follow the
sf0.01 corpus.

The contents are drawn once, from a fixed base seed; the run's seed only
permutes each table's rows. So every seed gives the same rows and the
same work, in its own order, and the same seed gives the same bytes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
VOCAB = ("a the data spark table column row key value join hash sort merge "
         "filter scan group agg window stream batch query order customer part "
         "line vector fast slow big small").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BASE_SEED = 20240101


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, xs, n, p=None):
    return pa.array(np.asarray(xs, dtype=object)[rng.choice(len(xs), n, p=p)].tolist(), pa.string())


def base_tables():
    rng = np.random.default_rng(BASE_SEED)
    n = SCALE
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n["supplier"])})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])})
    pk = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()),
        "p_type": _pick(rng, PTYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, no), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, nl), pa.timestamp("us"))})
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(month_us, ne, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["customer"] // 10, ne), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    nd = n["documents"]
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(nd)]
    # ~5% near-duplicates: an earlier document plus a " dup" marker
    for i in sorted(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def tables(seed):
    """The base tables, each with its rows in a seeded random order."""
    rng = np.random.default_rng(seed)
    return {name: t.take(pa.array(rng.permutation(t.num_rows)))
            for name, t in base_tables().items()}


def write(seed, out_dir):
    """Writes every table to `<out_dir>/<name>.parquet`, one row group each."""
    for name, t in tables(seed).items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", row_group_size=max(1, t.num_rows))


if __name__ == "__main__":
    import sys
    write(int(sys.argv[1]), sys.argv[2])
