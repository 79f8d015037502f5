"""Self-check harness mimicking the driver's correctness gate: run
each __spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB at sf0.01, compare row count, column-name set, and an
order-insensitive value comparison (columns sorted by name, rows
sorted).

The sweep itself is importable (``sweep(spark, sf_dir)``) so the
pytest suite runs the value comparison over EVERY registry entry at
sf0.001 on every run (tests/conftest.py ``entry_sweep``) — the driver
samples 50 of the entries per round, so without the in-suite sweep a
rotated-out entry could regress unnoticed for a round.  The same
sweep records each entry's plan signature for the plan-shape gate, so
no entry executes twice in the suite.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def sweep(spark, sf_dir: str, only=None, verbose: bool = True,
          signatures: dict | None = None) -> list[str]:
    """Run every queries() entry and compare against its oracle.
    Returns the list of per-entry failure descriptions (empty = green).
    Entries without an oracle get the rows-only treatment (run +
    count), mirroring the driver.  A ``signatures`` dict is filled with
    each entry's plan signature, read from the plan just executed."""
    import __spark_entry__ as e

    from fences_spark.plans import formatted_plan, plan_signature

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if signatures is not None:
            signatures[name] = plan_signature(formatted_plan(sdf))
        if name not in oracles:
            if verbose:
                print(f"{name}: rows-only check, {len(srows)} rows")
            continue
        dres = con.execute(oracles[name])
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = canon(srows, scols) == canon(drows, dcols) if ok_cols else False
        if ok_cols and ok_count and ok_vals:
            if verbose:
                print(f"{name}: OK ({len(srows)} rows)")
            continue
        msg = (
            f"{name}: FAIL cols={ok_cols} "
            f"count={ok_count}({len(srows)}/{len(drows)}) vals={ok_vals}"
        )
        if ok_cols and not ok_vals:
            a, b = canon(srows, scols), canon(drows, dcols)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diff:
                msg += f"\n   spark: {x}\n   duck : {y}"
        failures.append(msg)
        if verbose:
            print(msg)
    con.close()
    return failures


def main() -> int:
    from fences_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) if len(sys.argv) > 2 else None
    spark = get_spark(cores=8, shuffle_partitions=8)
    failures = sweep(spark, sf_dir, only=only)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
