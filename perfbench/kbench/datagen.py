"""Seeded input generation.  The same seed and sizes give byte-identical
tables; generated tables are cached under ``perfbench/.cache`` keyed by
kind, sizes and seed, and generation never counts towards any metric.

- ``corpus``: ``documents`` + ``embeddings`` with the shape of
  ``tools/gen_synthetic.py`` (10-100 word docs, 2.5% near-duplicates with
  ~15% of words perturbed, 0.2% exact duplicates, 64-d vectors with ~1%
  near-identical copies), but with the vocabulary scaled with the corpus:
  the fixture's 31 words saturate every shingle.
- ``tpch``: the eight TPC-H-shaped tables plus ``events`` with the value
  domains of the driver fixtures, at a given scale factor.
- ``etl``: ``(id, k)`` rows for the ``Stream`` facade chain.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

import numpy as np
import pandas as pd

from . import PERFBENCH_DIR

CACHE_DIR = os.path.join(PERFBENCH_DIR, ".cache")

BASE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def cached(kind: str, seed: int, build, **sizes) -> str:
    """Directory holding the tables ``build(out_dir, rng, **sizes)``
    writes, generated once per (kind, sizes, seed)."""
    key = "-".join([kind, *(f"{k}{v}" for k, v in sorted(sizes.items())), f"s{seed}"])
    final = os.path.join(CACHE_DIR, key)
    if os.path.isdir(final):
        return final
    tmp = os.path.join(CACHE_DIR, f".tmp-{key}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        build(tmp, np.random.default_rng(seed), **sizes)
        os.replace(tmp, final)
    except OSError:
        if not os.path.isdir(final):  # not a lost race with another run
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ---------------------------------------------------------------- corpus


def vocabulary(n_docs: int) -> list[str]:
    """The 31 base words times ``max(2, round(sqrt(n_docs / 50)))`` suffix
    variants (Heaps-law-like growth; ~1k words at 50k docs)."""
    mult = max(2, round(math.sqrt(n_docs / 50)))
    return [w if k == 0 else f"{w}{k}" for w in BASE_WORDS for k in range(mult)]


def build_corpus(out: str, rng: np.random.Generator, docs: int, vecs: int) -> None:
    words = np.array(vocabulary(docs))
    texts: list[str] = []
    for i in range(docs):
        if i > 100 and rng.random() < 0.025:
            j = int(rng.integers(0, i))
            toks = [
                w if rng.random() > 0.15 else words[rng.integers(0, len(words))]
                for w in texts[j].split(" ")
            ]
            texts.append(" ".join(toks))
        elif i > 100 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    df = pd.DataFrame(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "es", "de", "fr", "zh"], docs, p=[0.44, 0.15, 0.14, 0.13, 0.14]),
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, docs)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    df.to_parquet(os.path.join(out, "documents.parquet"), index=False)
    emb = rng.standard_normal((vecs, 64)).astype(np.float32)
    for _ in range(vecs // 100):
        a, b = rng.integers(0, vecs, 2)
        emb[b] = emb[a] + rng.standard_normal(64).astype(np.float32) * 0.01
    pd.DataFrame(
        {
            "vec_id": np.arange(vecs, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, vecs).astype("int32"),
        }
    ).to_parquet(os.path.join(out, "embeddings.parquet"), index=False)


def corpus(seed: int, docs: int, vecs: int) -> str:
    return cached("corpus", seed, build_corpus, docs=docs, vecs=vecs)


# ---------------------------------------------------------------- tpch

_ADJ = "red old cold hot large small new blue".split()
_NOUN = "bolt anvil plate widget gear ring rod gizmo".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n: int, start: str, end: str) -> pd.Series:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pd.Series(d.astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tpch(out: str, rng: np.random.Generator, sf_milli: int) -> None:
    sf = sf_milli / 1000.0
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))

    def write(name: str, cols: dict) -> None:
        pd.DataFrame(cols).to_parquet(os.path.join(out, f"{name}.parquet"), index=False)

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    write(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
    )
    write(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
    )
    write(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
    )
    pk = np.arange(n_part, dtype=np.int64)
    write(
        "part",
        {
            "p_partkey": pk,
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        },
    )
    write(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        },
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    write(
        "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Series(ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )


def tpch(seed: int, sf_milli: int) -> str:
    """TPC-H-shaped tables at scale factor ``sf_milli / 1000``."""
    return cached("tpch", seed, build_tpch, sf_milli=sf_milli)


# ---------------------------------------------------------------- etl


def build_etl(out: str, rng: np.random.Generator, rows: int) -> None:
    pd.DataFrame(
        {
            "id": np.arange(rows, dtype=np.int64),
            "k": rng.integers(0, 1000, rows).astype(np.int64),
        }
    ).to_parquet(os.path.join(out, "rows.parquet"), index=False)


def etl_rows(seed: int, rows: int) -> str:
    return os.path.join(cached("etl", seed, build_etl, rows=rows), "rows.parquet")
