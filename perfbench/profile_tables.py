"""Profile catalog tables: the properties that drive the benchmark's
catalog queries, for a directory of reference tables or for the tables
``corpus.py`` generates.

    python3 perfbench/profile_tables.py --dir <sf_dir>
    python3 perfbench/profile_tables.py --seed 1

Prints one JSON object: row counts, document length, vocabulary and
near-duplicate share, embedding structure, key and date ranges, and the
row count of each pinned catalog query's DuckDB oracle.  README.md
compares the reference tables with the generated ones.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _q(values, ps=(0.0, 0.05, 0.5, 0.95, 1.0)) -> list[float]:
    return [round(float(np.quantile(np.asarray(values, dtype=float), p)), 4) for p in ps]


def profile(tables: dict) -> dict:
    col = lambda t, c: tables[t].column(c).to_numpy(zero_copy_only=False)  # noqa: E731
    texts = list(col("documents", "text"))
    words = collections.Counter(w for t in texts for w in t.split(" "))
    freq = np.array([n for w, n in words.items() if w != "dup"])
    vecs = np.array(tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sim = unit @ unit.T
    np.fill_diagonal(sim, -np.inf)
    labels = col("embeddings", "label")
    ship = col("lineitem", "l_shipdate").astype("datetime64[D]")
    ts = col("events", "ts").astype("datetime64[us]").astype("int64")
    return {
        "rows": {t: tables[t].num_rows for t in TABLES},
        "documents": {
            "chars_q0_5_50_95_100": _q([len(t) for t in texts]),
            "words_q0_5_50_95_100": _q([len(t.split(" ")) for t in texts]),
            "vocab": len(words),
            "word_freq_max_over_min": round(float(freq.max() / freq.min()), 3),
            "near_dup_share": round(sum(t.endswith(" dup") for t in texts) / len(texts), 4),
            "exact_dup_rows": len(texts) - len(set(texts)),
            "en_share": round(float(np.mean(col("documents", "lang") == "en")), 4),
            "langs": len(set(col("documents", "lang"))),
            "sources": len(set(col("documents", "source"))),
        },
        "embeddings": {
            "dim": int(vecs.shape[1]),
            "norm_q0_100": _q(np.linalg.norm(vecs, axis=1), (0.0, 1.0)),
            "labels": len(set(labels)),
            "nn1_same_label": round(float(np.mean(labels[sim.argmax(1)] == labels)), 4),
            "mean_vector_norm": round(float(np.linalg.norm(unit.mean(0))), 4),
        },
        "events": {
            "users": len(set(col("events", "user_id"))),
            "ts_sorted_by_id": bool(np.all(np.diff(ts) >= 0)),
            "ts_span_days": round(float((ts.max() - ts.min()) / 86_400e6), 2),
            "value_q0_50_100": _q(col("events", "value"), (0.0, 0.5, 1.0)),
            "view_share": round(float(np.mean(col("events", "event_type") == "view")), 4),
            "purchase_share": round(float(np.mean(col("events", "event_type") == "purchase")), 4),
        },
        "lineitem": {
            "orderkeys_hit": round(len(set(col("lineitem", "l_orderkey"))) / tables["orders"].num_rows, 4),
            "shipdate_min_max": [str(ship.min()), str(ship.max())],
            "q01_selectivity": round(float(np.mean(ship <= np.datetime64("1998-09-02"))), 4),
            "linenumbers": len(set(col("lineitem", "l_linenumber"))),
        },
        "orders": {
            "custkeys_hit": round(len(set(col("orders", "o_custkey"))) / tables["customer"].num_rows, 4),
            "orderdate_min_max": [
                str(col("orders", "o_orderdate").astype("datetime64[D]").min()),
                str(col("orders", "o_orderdate").astype("datetime64[D]").max()),
            ],
        },
    }


def oracle_rows(sf_dir: str) -> dict[str, int]:
    """Result rows of each pinned catalog query's DuckDB oracle."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from check_oracle import duck_connection
    from workloads import CATALOG

    from hive_udf_neologd_spark.catalog import ORACLES

    con = duck_connection(sf_dir)
    return {q: len(con.execute(ORACLES[q]).fetch_df()) for q in CATALOG}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--dir", help="directory holding <table>.parquet for every catalog table")
    src.add_argument("--seed", type=int, help="profile the generated tables of this seed")
    args = ap.parse_args()
    sf_dir = args.dir
    if sf_dir is None:
        import corpus
        from workloads import CATALOG_SF

        sf_dir = os.path.join(ROOT, ".perfbench_work", f"profile-seed{args.seed}-{os.getpid()}")
        corpus.write_catalog(corpus.catalog_tables(args.seed, CATALOG_SF), sf_dir)
    tables = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}
    out = {**profile(tables), "oracle_rows": oracle_rows(sf_dir)}
    if args.dir is None:
        shutil.rmtree(sf_dir)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
