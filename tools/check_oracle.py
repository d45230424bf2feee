"""Local twin of the driver's correctness harness.

Runs every catalog query on Spark AND its DuckDB oracle at sf0.01, compares
row count, column names, and the order-insensitive multiset of values
(columns sorted by name, rows sorted) — exact equality, which is strictly
stronger than the driver's value hash.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from hive_udf_neologd_spark.sources import TABLES

# Override with SPARK_GRAFT_SF_DIR (same env var bench.py honors) — used
# for the sf1 correctness sweep recorded in SCALING.md.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def duck_connection(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark directory-style output (gen_scale sf1)
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Render every value to a canonical string (floats via repr so bit-equal
    # doubles match and nothing else does).
    def canon(v):
        if v is None or v != v:  # None / NaN / NaT
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.map(canon)
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def compare(name: str, spark, con, builder, sql) -> tuple[bool, str]:
    t0 = time.time()
    sdf = builder(spark, SF_DIR).toPandas()
    t_spark = time.time() - t0
    t0 = time.time()
    ddf = con.execute(sql).fetch_df()
    t_duck = time.time() - t0
    if sorted(sdf.columns) != sorted(ddf.columns):
        return False, f"schema mismatch: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return False, f"row count mismatch: spark={len(sdf)} duck={len(ddf)}"
    a, b = normalize(sdf), normalize(ddf)
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        diff_idx = list(a.index[neq])[:5]
        detail = []
        for i in diff_idx:
            detail.append(f"  row {i}: spark={a.loc[i].tolist()} duck={b.loc[i].tolist()}")
        return False, "value mismatch:\n" + "\n".join(detail)
    return True, f"OK rows={len(sdf)} spark={t_spark:.1f}s duck={t_duck:.2f}s"


def main() -> int:
    from hive_udf_neologd_spark.catalog import ORACLES, QUERIES
    from hive_udf_neologd_spark.session import get_spark

    only = set(sys.argv[1:])
    unknown = only - set(QUERIES)
    if unknown:
        # A typo'd name must be a hard error, not a silent no-op pass — an
        # "ALL PASS" that checked zero queries is worse than a failure.
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        print(f"known: {sorted(QUERIES)}", file=sys.stderr)
        return 2
    spark = get_spark("oracle-check", cpus=8)
    con = duck_connection()
    failures = 0
    for name, builder in QUERIES.items():
        if only and name not in only:
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"SKIP  {name} (rows-only: no oracle)")
            continue
        try:
            ok, msg = compare(name, spark, con, builder, sql)
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(exc).__name__}: {exc}"
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures += 1
        print(f"{status}  {name}: {msg}")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
