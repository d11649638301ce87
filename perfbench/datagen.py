"""Deterministic TPC-H-ish tables for the query workloads.

Writes the ten tables the SparkEntry queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and types of the repository's
sf0.001 test tables. The data seed is fixed so that the committed
expected digests in expected/queries.json stay valid; the workload seed
only permutes the query order.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SF = 0.001  # row counts scale like TPC-H at this scale factor
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
D1995 = 9131  # 1995-01-01 in days since the epoch


def _ts_days(days):
    return pa.array(np.asarray(days, dtype=np.int64) * US_PER_DAY,
                    type=pa.timestamp("us"))


def tables():
    """Return {name: pyarrow.Table}."""
    sf = SF
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), \
        int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_users, n_events = max(15, int(15_000 * sf)), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1,
                                  1)})
    odate = D1995 + rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_days(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li),
                                    2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_days(D1995 + rng.integers(0, 2500, n_li))})
    ets = np.sort(rng.integers(1704067200_000_000,
                               1704067200_000_000 + 30 * US_PER_DAY,
                               n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(500):
        if i % 20 == 12 and i >= 20:
            # planted near-duplicate: an earlier document plus markers
            texts.append(texts[i - 4 - (i % 7)] + " dup" * (1 + i % 3))
        else:
            words = rng.choice(WORDS, int(rng.integers(8, 100)))
            texts.append(" ".join(words) + (" dup" if i % 40 == 5 else ""))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, 500, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(0.0, 0.12, (500, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32())})
    return t


def write(out_dir):
    for name, table in tables().items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    import sys
    write(sys.argv[1])
