"""Pin the __spark_entry__ driver contract.

The driver's correctness gate compares ``queries()`` against
``oracle_sql()`` per key; a key present in ``queries()`` but missing
from ``oracle_sql()`` silently downgrades that entry to a weaker
rows-only check.  These tests make that downgrade impossible to do by
accident: every registry record (fences_spark/entry_queries.py
``ENTRIES``) must carry an oracle or a written rows-only reason, every
oracle SQL must parse AND execute on DuckDB over the real testdata
views, and the surface types are checked without starting Spark (fast
— the value-level Spark-vs-DuckDB comparison is the shared
``entry_sweep`` fixture, tests/conftest.py).
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from conftest import CONTRACT_SF as SF_DIR
from fences_spark.entry_queries import ENTRIES

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
ROOT = os.path.join(os.path.dirname(__file__), "..")


def test_surface_shape() -> None:
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert all(isinstance(k, str) and callable(v) for k, v in qs.items())
    assert all(
        isinstance(k, str) and isinstance(v, str) and v.strip() for k, v in oracles.items()
    )


def test_every_query_is_oracle_gated_or_documented_rows_only() -> None:
    names = [e.name for e in ENTRIES]
    assert len(names) == len(set(names)), "duplicate registry names"
    bad = [e.name for e in ENTRIES
           if bool(e.oracle and e.oracle.strip()) == bool(e.rows_only and e.rows_only.strip())]
    assert not bad, (
        "each registry record needs exactly one of an oracle SQL or a written "
        f"rows-only reason: {bad}"
    )


def test_unstamped_entries_lead_driver_window() -> None:
    """The driver's correctness gate stamps the first 50 entries of
    queries() per round (CORRECTNESS_r*.json); an entry none of those
    files names has never been stamped, so it must sit in that window."""
    stamped: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            stamped |= set(json.load(f))
    late = [n for n in list(entrymod.queries())[50:] if n not in stamped]
    assert not late, f"never-stamped entries outside the driver's first 50: {late}"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata not present")
def test_every_oracle_sql_executes_on_duckdb() -> None:
    """Each oracle must run on DuckDB over the registered views — a
    typo'd column or dialect slip should fail here in milliseconds,
    not in the driver's round sweep.  Values are compared elsewhere
    (scripts/check_oracle.py at sf0.01); this executes at sf0.001 so
    even the O(N^2) exact-baseline oracles stay sub-second."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        assert os.path.exists(path), f"missing driver table {path}"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad: list[str] = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            res.fetchall()
            assert cols, name
            assert len(cols) == len(set(cols)), f"{name}: duplicate result columns {cols}"
        except Exception as exc:  # noqa: BLE001 - collect all failures
            bad.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not bad, "oracle SQL failed on DuckDB:\n" + "\n".join(bad)


def test_full_oracle_sweep_values(entry_sweep) -> None:
    """The FULL Spark-vs-DuckDB value comparison over every oracle-gated
    entry at sf0.001, every pytest run.  The driver's per-round
    CORRECTNESS file samples only 50 of the entries, so the in-suite
    sweep is what guarantees every oracle holds — no reliance on driver
    sampling.  The heavier sf0.01 sweep stays available as
    `python scripts/check_oracle.py`."""
    failures, _ = entry_sweep
    assert not failures, f"{len(failures)} entries diverge:\n" + "\n\n".join(failures)
