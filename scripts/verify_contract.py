"""Drive the driver contract: plain SparkSession, entry() smoke at
sf0.001, then every queries() entry vs its oracle_sql() twin on DuckDB
at sf0.01 — sort columns by name, sort rows, exact equality (the
driver's value-hash check, reproduced locally).

Usage: python scripts/verify_contract.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import math
import sys

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Oracle output-type guard (r7). DuckDB's fetchall
# path silently normalizes HUGEINT/DECIMAL to Python int, so a
# fetchall-based parity check CANNOT see the bug class that kept the
# survival family red for three driver rounds: `sum(BIGINT)` returns
# HUGEINT, which the driver's pandas/Arrow fetch renders as
# float64/decimal128 and the value hash flips while rows+schema stay
# green. Guard: every oracle output column must be in this scalar
# set — no HUGEINT, no UHUGEINT, no DECIMAL. If a new oracle trips
# this, wrap the offending expression in CAST(... AS BIGINT/DOUBLE).
ALLOWED_ORACLE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN", "DATE",
    "TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
}

# Spark type-category ↔ allowed DuckDB types, column-for-column.
_SPARK_TO_DUCK = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER", "BIGINT"},
    "smallint": {"SMALLINT", "INTEGER"},
    "tinyint": {"TINYINT", "SMALLINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT", "DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
}


def type_guard_errors(sdf_dtypes, duck_cols, duck_types):
    """Return a list of violations: disallowed oracle types, or a
    Spark column whose type category doesn't match its oracle twin."""
    errs = []
    duck_by_col = {c: str(t) for c, t in zip(duck_cols, duck_types)}
    for c, t in duck_by_col.items():
        if t not in ALLOWED_ORACLE_TYPES:
            errs.append(f"oracle col {c!r} has disallowed type {t}")
    for c, st in sdf_dtypes:
        dt = duck_by_col.get(c)
        if dt is None:
            continue  # schema mismatch reported separately
        allowed = _SPARK_TO_DUCK.get(st)
        if allowed is None:
            errs.append(f"spark col {c!r} has unmapped type {st!r} (oracle {dt})")
        elif dt not in allowed:
            errs.append(f"col {c!r}: spark {st} vs oracle {dt} — category mismatch")
    return errs


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return repr(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", help="query names to check (default: all)")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as em

    spark = SparkSession.builder.master("local[8]").getOrCreate()

    n = len(em.entry(spark).collect())
    print(f"entry: {n} rows OK")

    qs, osql = em.queries(), em.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    names = args.only or list(qs)
    failed, rows_only = [], []
    for name in names:
        try:
            sdf = qs[name](spark, args.sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            if name not in osql:
                rows_only.append((name, len(srows)))
                continue
            drel = con.sql(osql[name])
            dcols = list(drel.columns)
            dtypes = list(drel.types)
            drows = drel.fetchall()
            if sorted(scols) != sorted(dcols):
                failed.append((name, f"schema {sorted(scols)} != {sorted(dcols)}"))
                continue
            terrs = type_guard_errors(sdf.dtypes, dcols, dtypes)
            if terrs:
                failed.append((name, "type guard: " + "; ".join(terrs)))
                continue
            sset, dset = rowset(scols, srows), rowset(dcols, drows)
            if sset != dset:
                diff = next(
                    (i, a, b) for i, (a, b) in enumerate(zip(sset + ["<end>"], dset + ["<end>"])) if a != b
                )
                failed.append((name, f"{len(sset)}/{len(dset)} rows; first diff @{diff[0]}:\n  spark={diff[1][:200]}\n  duck ={diff[2][:200]}"))
            else:
                print(f"  OK {name}: {len(sset)} rows exact")
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"EXCEPTION {type(e).__name__}: {e}"))

    for name, cnt in rows_only:
        print(f"  rows-only {name}: {cnt} rows (no oracle)")
    if failed:
        print(f"\nFAILED ({len(failed)}):")
        for name, why in failed:
            print(f"  {name}: {why}")
        sys.exit(1)
    print(f"\nall {len(names)} queries OK ({len(rows_only)} rows-only)")


if __name__ == "__main__":
    main()
