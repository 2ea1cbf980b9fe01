"""Deterministic generator of the engine's seed-42 test fixture.

Writes the ten base tables the engine reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the schemas of ``cs686_big_data_p1_spark/tables.py``.

The generator replays, draw for draw, the one ``numpy`` PCG64 stream
(``default_rng(seed)``) from which the project's test fixtures were
made: tables in the order above, columns in schema order, categorical
columns drawn as indexes into the value lists below (whose order is the
draw order, not the sorted one). At seed 42 every value of every table
equals the project's ``sf0.001``, ``sf0.01`` and ``sf0.1`` fixtures,
and with pandas 2.2 / pyarrow 16.1 the files are byte-identical too, so
a run records the digest of exactly the fixture the correctness checks
use. Shapes that matter to the queries come from that stream:

* TPC-H-ish star schema with uniform keys and measures, 4 line items per
  order on average (line items pick their order uniformly, so orders
  without items exist);
* ``events``: 30 days of time-sorted events from 15,000 x sf users;
* ``documents``: 10-99 words from a 30-word vocabulary; 5% are
  near-duplicates (another document's text plus `` dup``, applied in
  place, so a few are duplicates of duplicates);
* ``embeddings``: 64-dim unit vectors with no cluster structure for a
  prefix of the documents (``embeddings`` is a subset of ``documents``).

Usage: python3 perfbench/datagen.py OUT_DIR [SF] [SEED]
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd

VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
ADJECTIVES = "red blue small large hot cold old new".split()
NOUNS = "anvil widget gizmo bolt gear plate rod ring".split()
SEGMENTS = "BUILDING AUTOMOBILE MACHINERY HOUSEHOLD FURNITURE".split()
PART_TYPES = "STANDARD SMALL MEDIUM LARGE ECONOMY PROMO".split()
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = "en en en de fr es zh".split()  # en 3/7, the rest 1/7 each
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_1995 = np.datetime64("1995-01-01", "s")
EPOCH_2024 = np.datetime64("2024-01-01", "ns")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _i32(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int32)


def build_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": _i32(range(5)), "r_name": REGIONS})
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    adjective = _pick(rng, ADJECTIVES, n_part)
    noun = _pick(rng, NOUNS, n_part)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": adjective + " " + noun,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": DAY_1995 + rng.integers(0, 2405, n_ord) * 86_400,
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": _i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.1, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, LINE_STATUS, n_line),
            "l_shipdate": DAY_1995 + rng.integers(1, 2500, n_line) * 86_400,
        }
    )
    seconds = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": EPOCH_2024 + (seconds * 1e9).astype("timedelta64[ns]"),
            "user_id": rng.integers(0, n_user, n_evt),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = []
    for _ in range(n_doc):
        words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
        texts.append(" ".join(VOCAB[w] for w in words))
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for i, src in zip(dups, rng.integers(0, n_doc, len(dups))):
        texts[i] = texts[src] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": _i32(rng.integers(0, 10, n_emb)),
        }
    )
    return t


def write_fixture(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, frame in build_tables(sf, seed).items():
        frame.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def digest(fixture_dir: str) -> str:
    """sha256 over every parquet file of a fixture (name + bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(fixture_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode() + b"\0")
            with open(os.path.join(fixture_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    out = sys.argv[1]
    write_fixture(
        out,
        float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
        int(sys.argv[3]) if len(sys.argv) > 3 else 42,
    )
    print(out, digest(out))
