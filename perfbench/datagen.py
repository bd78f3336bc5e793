"""Seeded input generators for the benchmark.

`catalog_tables` writes the ten tables the query catalog reads (the schema of
the project's testdata: a TPC-H-like star plus `events`, `documents` and
`embeddings`), one parquet file per table. `stream_batches` yields the raw
`(value, event_timestamp)` batches of the medallion stream, with invalid rows
and replayed rows planted by the seed.

Everything is a pure function of its arguments: the same seed and scale give
byte-identical parquet files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, n, start, end):
    """n timestamps at midnight, uniform over the days [start, end]."""
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def catalog_tables(out, sf, seed):
    """Write the ten catalog tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events: increasing timestamps over 30 days, exponential gaps
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: 10-100 words from a small vocabulary; 5% are near-copies of
    # an earlier document with one extra word, so dedup operators find pairs
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})


def stream_batches(out, seed, n_batches, rows, invalid_frac=0.03, replay_frac=0.05):
    """Write `n_batches` raw `(value, event_timestamp)` batches into `out`.

    Values rise across batches, so every fresh row has a new transaction id.
    About `invalid_frac` of the rows have a null timestamp: their derived
    transaction id is null and the silver DQ split quarantines them. From the
    second batch on, about `replay_frac` of a batch repeats valid rows of
    earlier batches, which takes the MERGE matched path. Returns the counts
    the end-state check needs.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-05-28T00:00:00", "us")
    next_value = 1
    earlier_v, earlier_t = [], []
    invalid = total = replayed = 0
    for b in range(n_batches):
        n_replay = int(rows * replay_frac) if earlier_v else 0
        n_new = rows - n_replay
        v = next_value + np.cumsum(rng.integers(1, 4, n_new))
        next_value = int(v[-1]) + 1
        ts = start + (v * 20_000_000 + rng.integers(0, 10_000_000, n_new)).astype("timedelta64[us]")
        bad = rng.random(n_new) < invalid_frac
        ts_col = pa.array(ts, pa.timestamp("us"), mask=bad)
        good = ~bad
        if n_replay:
            pool_v = np.concatenate(earlier_v)
            pool_t = np.concatenate(earlier_t)
            pick = rng.choice(len(pool_v), n_replay, replace=False)
            v_all = np.concatenate([v, pool_v[pick]])
            ts_all = pa.concat_arrays([ts_col, pa.array(pool_t[pick], pa.timestamp("us"))])
        else:
            v_all, ts_all = v, ts_col
        order = rng.permutation(len(v_all))
        table = pa.table({"value": pa.array(v_all[order], pa.int64()),
                          "event_timestamp": ts_all.take(pa.array(order))})
        pq.write_table(table, os.path.join(out, f"batch_{b:04d}.parquet"))
        earlier_v.append(v[good])
        earlier_t.append(ts[good])
        invalid += int(bad.sum())
        total += len(v_all)
        replayed += n_replay
    meta = {"batches": n_batches, "rows": total, "invalid": invalid, "replayed": replayed}
    with open(os.path.join(out, "stream.json"), "w") as f:
        json.dump(meta, f)
    return meta
