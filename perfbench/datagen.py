"""Seeded inputs for every workload.

``write_star`` writes the ten tables of the repository's fixed test data
(a TPC-H-ish star plus ``events``, ``documents`` and ``embeddings``) as
one parquet file each. Column names, types and value distributions match
that data, so every registered query and its DuckDB oracle run unchanged;
only the values come from the seed. Row counts are those of the fixed data
at the same scale factor (``sf`` times the TPC-H base counts; ``documents``
and ``embeddings`` scale from a floor of 500 rows) and do not depend on
the seed, so runs with different seeds do the same amount of work.

``lake_rows`` makes the lineitem payload of the lake workloads with unique
``(l_orderkey, l_linenumber)`` keys, and ``lake_batch`` the seeded change
batches committed into those tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = np.timedelta64(86_400_000_000, "us")
_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _date(base: str, days: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + days * _DAY_US)


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int, n_parts: int,
                   n_supp: int, keys: np.ndarray | None = None) -> pa.Table:
    """``n`` lineitem rows. With ``keys`` (distinct ints) the key pair is
    ``(k // 7, k % 7 + 1)`` and therefore unique; without, orderkey and
    linenumber are drawn independently, as in the fixed test data."""
    if keys is None:
        okey = rng.integers(0, n_orders, n, dtype=np.int64)
        line = rng.integers(1, 8, n, dtype=np.int32)
    else:
        okey = (keys // 7).astype(np.int64)
        line = (keys % 7 + 1).astype(np.int32)
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_parts, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
            "l_linenumber": line,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": _date("1995-01-01", rng.integers(0, 2500, n)),
        }
    )


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_li, n_ord, n_cust = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, n_cust), 2),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, n_cust)
                ]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(
                np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])[
                    rng.integers(0, 6, n_part)
                ]
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _date("1995-01-01", rng.integers(0, 2405, n_ord)),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_ord)
                ]
            ),
        }
    )
    t["lineitem"] = lineitem_table(rng, n_li, n_ord, n_part, n_supp)
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + us * np.timedelta64(1, "us")),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": pa.array(
                np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)]
            ),
            "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_docs)]
    # Planted near-duplicates (a copy with one word appended, 5% of docs)
    # and exact duplicates, as in the fixed test data; the dedup queries find them.
    for i, dst in enumerate(rng.choice(np.arange(1, n_docs), n_docs // 20 + n_docs // 500, replace=False)):
        src = int(rng.integers(0, dst))
        texts[dst] = texts[src] + (" dup" if i >= n_docs // 500 else "")
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def write_star(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables to ``out_dir/<name>.parquet`` (one row group
    each, like the fixed test data) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in star_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def lake_rows(n: int, seed: int) -> pa.Table:
    """The lake workloads' base payload: ``n`` lineitem rows with unique
    keys drawn from ``n * 7 // 4`` candidate key slots (about four lines per
    order, so every order key groups a few rows)."""
    rng = np.random.default_rng([seed, 2])
    slots = n * 7 // 4
    keys = np.sort(rng.choice(slots, size=n, replace=False))
    return lineitem_table(rng, n, slots // 7, max(n // 30, 1), max(n // 600, 1), keys=keys)


def lake_batch(rng: np.random.Generator, n: int, key_space: int, n_parts: int) -> pa.Table:
    """A change batch of ``n`` rows with unique keys drawn from
    ``[0, key_space)`` key slots, so it mixes updates of live keys with new
    inserts."""
    keys = rng.choice(key_space, size=n, replace=False)
    return lineitem_table(rng, n, key_space // 7, n_parts, max(n_parts // 20, 1), keys=keys)
