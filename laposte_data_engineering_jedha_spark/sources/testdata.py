"""Synthetic benchmark-table generator (TPC-H-ish star schema + events +
LLM-ops tables).

The round driver ships pre-generated parquet at /root/testdata/sf*; a user
adopting this repo (or a CI runner) has no such directory, so this module
synthesizes schema- and distribution-compatible tables at any scale factor:

    region nation customer supplier part orders lineitem events documents
    embeddings

Same column names/types as the driver data (verified against
/root/testdata/sf0.001 via DuckDB DESCRIBE), including the physical
timestamp subtlety: `events.ts` is written as parquet TIMESTAMP(NANOS) —
which Spark's vectorized reader only accepts via
spark.sql.legacy.parquet.nanosAsLong, the exact code path
queries.events_table() handles — while orders/lineitem timestamps stay
micros.

Deterministic for a given (seed, sf): plain numpy PCG64, no wall clock.
Driver-side generation by design — benchmark *fixtures* are bounded (the
largest in-repo use is sf0.1, ~600k lineitem rows); the distributed-data
path at real scale is the engine itself (spark.range + the same column
formulas would scale this to any size, but fixtures don't need executors).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
ORDER_STATUS = ["O", "F", "P"]
ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["new", "old", "red", "blue", "hot", "cold", "small", "large"]
PART_NOUN = ["widget", "gizmo", "bolt", "anvil", "gear", "rod", "plate", "ring"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM", "LARGE"]
RETURN_FLAGS = ["R", "A", "N"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DOC_LANGS = ["en", "fr", "de", "es", "zh"]
# width of every fixture embedding; the vector queries and their oracle SQL
# read it from here
EMB_DIM = 64
DOC_VOCAB = (
    "the a data spark table row column key value join merge sort hash scan "
    "filter group agg window batch stream query part order line customer "
    "small big fast slow dup vector"
).split()

_DAY_US = 86_400_000_000


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    base_us = np.datetime64(base, "us").astype("int64")
    return pa.array(base_us + offsets_us, type=pa.timestamp("us"))


def _rows(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def generate(out_dir: str, sf: float = 0.001, seed: int = 42) -> dict[str, int]:
    """Write all ten tables under out_dir; returns {table: n_rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
    )
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )

    n_cust = _rows(150_000, sf, 150)
    write(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
                ),
            }
        ),
    )

    n_supp = _rows(10_000, sf, 10)
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(0.0, 9999.99, n_supp), 2),
            }
        ),
    )

    n_part = _rows(200_000, sf, 200)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    write(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 200), 2),
            }
        ),
    )

    n_ord = _rows(1_500_000, sf, 1500)
    span_days = 2400  # 1995-01-01 .. ~2001-08, like the driver data
    odate_day = rng.integers(0, span_days, n_ord)
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(
                    np.array(ORDER_STATUS)[rng.integers(0, 3, n_ord)]
                ),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                "o_orderdate": _ts_us("1995-01-01", odate_day * _DAY_US),
                "o_orderpriority": pa.array(
                    np.array(ORDER_PRIORITIES)[rng.integers(0, 5, n_ord)]
                ),
            }
        ),
    )

    n_li = n_ord * 4
    li_order = np.repeat(np.arange(n_ord, dtype=np.int64), 4)
    li_linenum = np.tile(np.arange(1, 5, dtype=np.int32), n_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, n_li), 2)
    write(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(li_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(li_linenum, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": pa.array(
                    np.array(RETURN_FLAGS)[rng.integers(0, 3, n_li)]
                ),
                "l_linestatus": pa.array(
                    np.array(["O", "F"])[rng.integers(0, 2, n_li)]
                ),
                "l_shipdate": _ts_us(
                    "1995-01-01", (np.repeat(odate_day, 4) + rng.integers(1, 95, n_li)) * _DAY_US
                ),
            }
        ),
    )

    n_ev = _rows(1_000_000, sf, 1000)
    n_users = max(15, n_ev // 65)
    ev_ts_ns = (
        np.datetime64("2024-01-01", "ns").astype("int64")
        + np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_ev))
    )
    write(
        "events",
        pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                # TIMESTAMP(NANOS) physical type — exercises the
                # nanosAsLong legacy-read path in queries.events_table().
                "ts": pa.array(ev_ts_ns, pa.timestamp("ns")),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]
                ),
                "value": np.round(rng.uniform(0.01, 330.0, n_ev), 2),
                "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
            }
        ),
    )

    n_doc = _rows(50_000, sf, 500)
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for _ in range(n_doc):
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    # a slice of near/exact duplicates so dedup operators have work to do
    for i in range(0, n_doc, 25):
        texts[i] = texts[(i + 7) % n_doc]
    write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(n_doc), pa.int64()),
                "text": texts,
                "lang": pa.array(np.array(DOC_LANGS)[rng.integers(0, 5, n_doc)]),
                "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    n_emb = _rows(20_000, sf, 500)
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(n_emb), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    )
    return counts


def main(argv: list[str] | None = None) -> None:  # pragma: no cover - thin CLI
    import argparse

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("out_dir")
    p.add_argument("--sf", type=float, default=0.001)
    p.add_argument("--seed", type=int, default=42)
    ns = p.parse_args(argv)
    for name, n in generate(ns.out_dir, sf=ns.sf, seed=ns.seed).items():
        print(f"{name}: {n}")


if __name__ == "__main__":  # pragma: no cover
    main()
