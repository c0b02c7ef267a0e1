"""Seeded inputs for the benchmark.

`write_tables(out_dir, seed)` writes the ten parquet tables the registry's
builders and DuckDB oracles read (`region nation customer supplier part
orders lineitem events documents embeddings`), with the schemas of
`flink_adcom_spark.tables.SCHEMAS` and the shape of the repository's
synthetic test data at sf0.01: uniform keys, TPC-H-like value ranges, five
event types, a 30-word document vocabulary with ~5% planted near-duplicate
documents, and unit-norm 64-d embeddings with ten labels.  The same seed
writes the same bytes.

`python3 inputs.py SPOOL RECORD GO_FILE STOP_FILE --seed N` is the stream
generator: an open loop that writes one parquet file per tick to a spool
directory at `RATE` rows per second whatever the consumer does, stamps
every event with its creation time, and records what it sent.
"""

from __future__ import annotations

import argparse
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 test tables.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
US_PER_DAY = 86_400_000_000
TABLES = ("region", "nation", *ROWS)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    i32 = pa.int32()
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, m),
            "l_partkey": rng.integers(0, p, m),
            "l_suppkey": rng.integers(0, s, m),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, e))
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, c // 10, e),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, d)]
    # planted near-duplicates: a copy of another document plus a marker word
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    vecs = rng.standard_normal((v, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, v), i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- stream generator ---------------------------------------------------------

RATE = 200_000  # rows per second, open loop
TICK_S = 0.05
HOT_KEY = 0
HOT_SHARE = 0.30
COLD_KEYS = 10_000
FEED_SCHEMA = pa.schema(
    [("driver_id", pa.int64()), ("amount", pa.int64()), ("created_ms", pa.float64())]
)


def feed(
    spool: str, record: str, go_file: str, stop_file: str, seed: int, drop_tick: int = -1
) -> None:
    """Once `go_file` appears, write one file of rows per tick until
    `stop_file` appears.

    Ticks are spaced by `TICK_S` times a seeded uniform factor in [0.5, 1.5),
    so their phase against the consumer's batch schedule varies within a
    run, and each carries `RATE` rows per second of its spacing.  A tick's
    rows are stamped with creation times spread evenly over its span, so the
    newest row of a file was created at the file's due time.  A late tick is
    written as soon as possible and keeps its due-time stamps, so a stalled
    generator shows as latency, and `late_max_ms` says how late it ran.
    Keys: 30% of rows go to one hot key, the rest are uniform over 10k keys.
    Tick `drop_tick` is recorded as sent but never written, which the
    consumer's check must catch (the self-test uses it)."""
    rng = np.random.default_rng(seed)
    os.makedirs(spool, exist_ok=True)
    counts = np.zeros(COLD_KEYS + 1, dtype=np.int64)
    sums = np.zeros(COLD_KEYS + 1, dtype=np.int64)
    late_max = 0.0
    files = 0
    while not os.path.exists(go_file):
        time.sleep(0.005)
    due = time.time()
    while not os.path.exists(stop_file):
        span = TICK_S * rng.uniform(0.5, 1.5)
        due += span
        n = max(1, round(RATE * span))
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        late_max = max(late_max, (time.time() - due) * 1000.0)
        hot = rng.random(n) < HOT_SHARE
        keys = np.where(hot, HOT_KEY, rng.integers(1, COLD_KEYS + 1, n))
        amount = rng.integers(1, 1000, n)
        created = (due - span + span * np.arange(1, n + 1) / n) * 1000.0
        np.add.at(counts, keys, 1)
        np.add.at(sums, keys, amount)
        if files != drop_tick:
            tmp = os.path.join(spool, f".{files:06d}.parquet")
            pq.write_table(pa.table([keys, amount, created], schema=FEED_SCHEMA), tmp)
            os.rename(tmp, os.path.join(spool, f"{files:06d}.parquet"))
        files += 1
    np.savez(record, counts=counts, sums=sums, files=files, late_max_ms=late_max)


def main() -> None:
    ap = argparse.ArgumentParser(description="Run the stream generator.")
    ap.add_argument("spool")
    ap.add_argument("record", help=".npz file for what was sent")
    ap.add_argument("go_file", help="the generator starts when this file appears")
    ap.add_argument("stop_file", help="the generator stops when this file appears")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--drop-tick", type=int, default=-1, help="record but do not write this tick")
    a = ap.parse_args()
    feed(a.spool, a.record, a.go_file, a.stop_file, a.seed, a.drop_tick)


if __name__ == "__main__":
    main()
