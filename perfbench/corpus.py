"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical parquet (pyarrow, fixed row order, no timestamps in the
file metadata) and a different seed writes a different corpus.

* ``ja_docs`` — distinct Japanese documents of 10–40 pool sentences.
* ``catalog_tables`` — the ten catalog tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at a small scale factor.
  Row counts, value ranges and the distributions that drive the catalog
  queries follow the catalog's reference tables, as measured with
  ``profile_tables.py`` (see README.md): uniform keys, uniform dates,
  a 31-word document vocabulary with a 5% near-duplicate share, and
  isotropic embeddings whose labels carry no cluster structure.

The sentence pool is ``sentences.txt``: the distinct sentences of the
package's parity corpora, snapshotted so the benchmark's inputs do not
move when those corpora are edited.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# The words of the reference ``documents.text``, each about equally
# frequent; near-duplicates add a 31st word, "dup".
ASCII_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def pool() -> list[str]:
    with open(os.path.join(HERE, "sentences.txt"), encoding="utf-8") as f:
        return [line for line in f.read().split("\n") if line]


def ja_docs(seed: int, n_docs: int) -> list[str]:
    sentences = pool()
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 41, size=n_docs)
    picks = rng.integers(0, len(sentences), size=int(lengths.sum()))
    docs, at = [], 0
    for n in lengths:
        docs.append("".join(sentences[j] for j in picks[at : at + n]))
        at += n
    if len(set(docs)) != len(docs):
        raise AssertionError("ja_docs: generated documents are not distinct")
    return docs


def write_docs(docs: list[str], out_dir: str, files: int) -> dict:
    """Write ``docs`` as ``files`` contiguous parquet parts (id, text)."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"id": pa.array(range(len(docs)), pa.int64()), "text": docs})
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return {"rows": len(docs), "chars": sum(map(len, docs)), "files": files}


# --- catalog tables -------------------------------------------------------

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_SHIP_1995 = dt.datetime(1995, 1, 2)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _days(rng, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    us = rng.integers(0, span_days, size=n).astype("int64") * 86_400_000_000
    return pa.array(us + _micros(start), pa.timestamp("us"))


def _micros(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _pick(rng, values, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), size=n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, adjectives, n_part), _pick(rng, nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, _EPOCH_1995, 2405),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, _SHIP_1995, 2499),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + _micros(_EPOCH_2024)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(_pick(rng, ASCII_VOCAB, int(rng.integers(10, 100)))) for _ in range(n_doc)]
    # Near-duplicates: 5% of the rows, at random positions, become a copy
    # of a random row with " dup" appended.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [["en", "en", "en", "zh", "es", "de", "fr"][i] for i in rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # Unit vectors in random directions; the labels are independent of them.
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_catalog(tables: dict[str, pa.Table], sf_dir: str) -> dict:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    rows = {name: table.num_rows for name, table in tables.items()}
    docs = tables["documents"].column("text").to_pylist()
    return {"rows": sum(rows.values()), "chars": sum(map(len, docs)), "tables": rows}
