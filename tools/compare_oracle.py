"""Local mirror of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row count, schema width, and an order-insensitive
value hash. Usage: python tools/compare_oracle.py [sf_dir] [names...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from rsgislib_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            # fetch via Arrow, NOT fetchall(): the driver's hasher sees
            # Arrow/pandas values. DuckDB HUGEINT (e.g. SUM(int)) is a
            # Python int under fetchall() ("3") but decimal128/float64
            # under Arrow/pandas ("3.0") — fetchall() masked exactly the
            # sessionize hash-red that the driver kept reporting.
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            dcols = tbl.column_names
            drows = list(zip(*(tbl.column(c).to_pylist() for c in dcols))) \
                if tbl.num_rows else []
            decs = [f"{f.name}:{f.type}" for f in tbl.schema
                    if "decimal" in str(f.type)]
            if decs:
                print(f"{name}: DECIMAL ORACLE COLUMN (driver-hash hazard,"
                      f" CAST it): {decs}")
                failures.append(name)
                continue
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        sh = table_hash(srows, scols)
        dh = table_hash(drows, dcols)
        ok = len(srows) == len(drows) and sorted(scols) == sorted(dcols) and sh == dh
        status = "OK " if ok else "FAIL"
        print(f"{name}: {status} spark={len(srows)} duck={len(drows)} "
              f"hash {sh} vs {dh} cols={sorted(scols) == sorted(dcols)}")
        if not ok:
            failures.append(name)
            # show a few mismatching lines for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {"\x1f".join(norm_cell(r[i]) for i in order) for r in srows}
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            dset = {"\x1f".join(norm_cell(r[i]) for i in dorder) for r in drows}
            print("  spark-only:", list(sset - dset)[:3])
            print("  duck-only :", list(dset - sset)[:3])
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    # the local gate also enforces the fingerprint drift rule: a gated
    # query must never change outside the current driver window
    import os

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import query_fingerprints

    if query_fingerprints.check() != 0:
        sys.exit(1)
    print("all compared queries OK")


if __name__ == "__main__":
    main()
