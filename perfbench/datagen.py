"""Seeded synthetic inputs with the schema of the repo's test tables.

Every table is a pure function of ``(seed, sf)``: the same pair always
yields byte-identical parquet files. Row counts follow the per-SF
sizes of TESTDATA.md (lineitem = 6M x sf, documents = 50k x sf, ...). Money
and rate columns carry exactly two decimals, as the decimal-exact
aggregates in ``corral_spark.functions.det`` assume.

Besides the tables, ``generate`` writes the two non-table inputs of the
ETL ops: a plain-text corpus (one document per line, several files)
and a CDC feed cut from ``events`` (file ``r`` holds each user's
``r``-th event, so no file has two rows for one key).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

#: Number of CDC files cut from events (micro-batches of the upsert op).
#: Two are enough for the second batch to merge into the snapshot the
#: first one wrote; each more costs the op about a second a pass.
CDC_FILES = 2
#: Number of text files the MapReduce corpus is split into.
CORPUS_FILES = 4


def _day(s: str) -> np.datetime64:
    return np.datetime64(s, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return cents / 100.0


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = int((_day(hi) - _day(lo)).astype(int))
    days = _day(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary; one in twenty
    is a planted near-duplicate: another document's text plus ' dup'."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_dup = n // 20
    dup_ids = rng.choice(n, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), dup_ids)
    for d, src in zip(dup_ids, rng.choice(originals, n_dup)):
        texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table the benchmark reads, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = round(150_000 * sf), round(10_000 * sf)
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_li, n_ev, n_doc = round(6_000_000 * sf), round(1_000_000 * sf), round(50_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    i64 = lambda a: np.asarray(a, dtype=np.int64)  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": (90_000 + (np.arange(n_part) % 1000) * 10) / 100.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(
                    _days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")
                ),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": pa.array(
                    _days(rng, "1995-01-02", "2001-11-04", n_li), pa.timestamp("us")
                ),
            }
        ),
        "events": _events(rng, n_ev, max(n_cust // 10, 1)),
        "documents": _documents(rng, n_doc),
    }
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write the tables, the text corpus and the CDC feed under
    ``out_dir``; return the paths the workloads read."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    texts = tabs["documents"].column("text").to_pylist()
    for i in range(CORPUS_FILES):
        with open(os.path.join(corpus_dir, f"part-{i}.txt"), "w") as f:
            f.write("\n".join(texts[i::CORPUS_FILES]) + "\n")

    cdc_dir = os.path.join(out_dir, "cdc")
    os.makedirs(cdc_dir, exist_ok=True)
    ev = tabs["events"]
    users = ev.column("user_id").to_numpy()
    rank = np.zeros(len(users), dtype=np.int64)
    seen: dict[int, int] = {}
    for i, u in enumerate(users):  # events are in ts order
        rank[i] = seen.get(u, 0)
        seen[u] = rank[i] + 1
    base = datetime(2024, 1, 1).timestamp()
    for r in range(CDC_FILES):
        path = os.path.join(cdc_dir, f"batch-{r}.parquet")
        pq.write_table(ev.filter(pa.array(rank == r)), path)
        # The file source orders files by modification time.
        os.utime(path, (base + r, base + r))
    return {"sf_dir": out_dir, "corpus_dir": corpus_dir, "cdc_dir": cdc_dir}
