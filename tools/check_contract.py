"""Local simulation of the driver's correctness gate.

Runs every `queries()` entry on Spark and, where present, the matching
`oracle_sql()` on DuckDB over the same parquet tables, comparing:
row count, sorted column names, and an order-insensitive value hash
(rows sorted, columns sorted by name, values stringified with float
rounding). Exit code 1 on any mismatch. Every passing line (`OK` and
rows-only `ok-`) prints the Spark-side value hash, so a refactor can be
shown value-identical by diffing two runs of this tool.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    # r01 lesson: both engines must be canonicalized from their PANDAS
    # representation, the way the driver does it — DuckDB fetchall() hands
    # back Python ints for HUGEINT sums and hid a real driver mismatch
    # (pandas converts HUGEINT to float64: 3.0 vs Spark's int64 3).
    import numpy as np

    if v is None:
        return "\\N"
    if isinstance(v, (np.ndarray, list, tuple)):
        # the driver's canonicalizer CANNOT hash these (pandas factorize
        # raises `unhashable type`); surface the same failure locally
        raise TypeError(
            "unhashable array-typed cell (driver canonicalizer would "
            "raise `unhashable type: 'list'`) — project scalar columns"
        )
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "nan"
        return f"{float(v):.6f}"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, np.bool_):
        return str(bool(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    canon = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gliner_spark.plans.session import build_session

    spark = build_session(app_name="contract-check", master="local[8]",
                          shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # row pins only apply at the gate's scale factor
    rows_only_pins = (
        entrymod.rows_only_expected()
        if sf_dir.rstrip("/").endswith("sf0.01")
        and hasattr(entrymod, "rows_only_expected")
        else {}
    )
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            pdf = df.toPandas()  # pandas path = what the driver hashes
            cols = list(pdf.columns)
            rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
            if rows:  # probe hashability like the driver's factorize does
                for v in rows[0]:
                    canon_value(v)
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            # rows-only queries have no value oracle, but their row
            # count at the gate's sf0.01 is PINNED (r4 verdict #3): a
            # silent count drift between rounds fails loudly here the
            # way the oracle catches value drift. Update the pin in
            # __spark_entry__.rows_only_expected() when a deliberate
            # change moves the count.
            expected = rows_only_pins.get(name)
            if expected is not None and len(rows) != expected:
                failures.append(
                    (name, f"rows-only pin {expected} != {len(rows)}")
                )
                print(
                    f"FAIL  {name}: rows-only count {len(rows)} != "
                    f"pinned {expected} (sf0.01 pin — update "
                    f"rows_only_expected() if intentional)"
                )
            else:
                pin = " pin-ok" if expected is not None else ""
                print(
                    f"ok-   {name}: rows={len(rows)} "
                    f"hash={value_hash(rows, cols)} "
                    f"(rows-only,{pin} {spark_s:.1f}s)"
                )
            continue
        try:
            opdf = con.execute(oracles[name]).df()
            ocols = list(opdf.columns)
            orows = [
                tuple(r) for r in opdf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"schema {sorted(cols)} != {sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(rows, cols), value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"value hash {hs} != {ho}")
                # show a sample diff
                os_ = {
                    "|".join(
                        canon_value(r[i])
                        for i in sorted(range(len(ocols)),
                                        key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                ss = {
                    "|".join(
                        canon_value(r[i])
                        for i in sorted(range(len(cols)),
                                        key=lambda i: cols[i])
                    )
                    for r in rows
                }
                for x in sorted(ss - os_)[:3]:
                    print(f"      spark-only: {x[:160]}")
                for x in sorted(os_ - ss)[:3]:
                    print(f"      duck-only:  {x[:160]}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(
                f"OK    {name}: rows={len(rows)} hash={hs} ({spark_s:.1f}s)"
            )

    print(f"\n{len(failures)} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
