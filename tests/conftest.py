from __future__ import annotations

import os
import sys

import pytest

CONTRACT_SF = os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from fences_spark.session import get_spark

    s = get_spark(app="fences_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def entry_sweep(spark):
    """One Spark-vs-DuckDB sweep over every registry entry at
    CONTRACT_SF (scripts/check_oracle.py): ``(failures, signatures)``.
    The oracle and plan-shape tests share it, so each entry executes
    once per suite."""
    if not os.path.isdir(CONTRACT_SF):
        pytest.skip("driver testdata not present")
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from check_oracle import sweep

    signatures: dict = {}
    failures = sweep(spark, CONTRACT_SF, verbose=False, signatures=signatures)
    return failures, signatures
