"""Seeded generator of the ten-table analytics corpus (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) in the schema the registered queries and their DuckDB
oracles read. Value domains follow scripts/gen_sf.py. It runs in
NumPy and writes Parquet with pyarrow (INT96 timestamps, as Spark
writes them), so a fresh corpus per seed costs about a second and
starts no Spark job before the measurement.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["large", "hot", "blue", "red", "small", "dark", "light", "cold"]
PNOUN = ["ring", "bolt", "case", "drum", "pipe", "disk", "cup", "rod"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "spark batch part line column order small sort fast value scan hash "
    "slow group agg filter big merge stream the key query table join "
    "window vector data customer a index plan row cache"
).split()
DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _write(out: Path, name: str, table: pa.Table, files: int) -> None:
    d = out / f"{name}.parquet"
    d.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), d / f"part-{i:05d}.parquet",
                       use_deprecated_int96_timestamps=True)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _ids(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def generate(out: Path, sf: float, seed: int) -> None:
    """Write every table as ``out/<table>.parquet`` (a Parquet directory)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_events, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    def money(lo, span, n):
        return np.round(rng.random(n) * span + lo, 2)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}), 1)
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), 1)
    _write(out, "customer", pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-1000, 11000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }), 2)
    _write(out, "supplier", pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-1000, 11000, n_supp),
    }), 1)
    adj, noun = _pick(rng, PADJ, n_part), _pick(rng, PNOUN, n_part)
    _write(out, "part", pa.table({
        "p_partkey": _ids(n_part),
        "p_name": pc.binary_join_element_wise(adj, noun, " "),
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (_ids(n_part) % 10000) / 10.0, 2),
    }), 2)

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": _ids(n_ord),
        "o_custkey": rng.integers(0, max(n_cust, 1), n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 499000, n_ord),
        "o_orderdate": ORDER_EPOCH + order_day * DAY_US,
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }), 4)

    n_li = n_ord * 4
    l_order = _ids(n_li) // 4
    _write(out, "lineitem", pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, max(n_part, 1), n_li),
        "l_suppkey": rng.integers(0, max(n_supp, 1), n_li),
        "l_linenumber": (_ids(n_li) % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 104100, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        # shipped 1..94 days after the order date
        "l_shipdate": ORDER_EPOCH + (order_day[l_order] + rng.integers(1, 95, n_li)) * DAY_US,
    }), 4)

    ts = np.sort(EVENT_EPOCH + rng.integers(0, 30 * DAY_US, n_events))  # an append log
    _write(out, "events", pa.table({
        "event_id": _ids(n_events),
        "ts": ts,
        "user_id": rng.integers(0, max(n_users, 1), n_events),
        "event_type": _pick(rng, ETYPES, n_events),
        "value": money(0, 560, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), 4)

    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(8, 111))]) for _ in range(n_docs)]
    for i in np.nonzero(rng.integers(0, 500, n_docs) == 0)[0]:
        if i > 0:  # ~0.2% exact duplicates of the previous document
            texts[i] = texts[i - 1]
    en = rng.integers(0, 100, n_docs) < 41
    other = np.array(["de", "es", "fr", "zh"], dtype=object)[rng.integers(0, 4, n_docs)]
    _write(out, "documents", pa.table({
        "doc_id": _ids(n_docs),
        "text": texts,
        "lang": pa.array(np.where(en, "en", other), pa.string()),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), 2)

    # 64-dim float vectors clustered around 10 label centroids
    centroids = (rng.integers(0, 2001, (10, 64)) - 1000) / 1000.0
    label = rng.integers(0, 10, n_vecs)
    vecs = (centroids[label] + (rng.integers(0, 2001, (n_vecs, 64)) - 1000) / 3000.0).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": _ids(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), 2)
