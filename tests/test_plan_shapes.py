"""Plan-shape regression gate.

PLANS.md documents the physical plans, but nothing failed when a plan
regressed — a broadcast silently becoming a shuffle, or a new Python
boundary appearing in a JVM-only query.  This gate compares the
signature (fences_spark.plans.plan_signature) of each pinned entry's
AQE-final plan, captured by the shared in-suite sweep, with the pin at
tests/fixtures/plan_shapes.json.  The pin records the scale factor it
was captured at (``sf``, the data directory's name) and the gated
entries' signatures (``signatures``, keyed by entry); a sweep at
another scale factor cannot be compared and skips the comparison.

When a plan LEGITIMATELY changes, regenerate the pin deliberately:

    PLAN_SHAPES_UPDATE=1 python -m pytest tests/test_plan_shapes.py -q

That rewrites the signature of every entry the pin keys.  To gate a
new entry, add its name under the pin's ``signatures`` (any value) and
update.  Pin only signatures that repeat across runs: retention_events
is left out because AQE broadcasts either side of one of its joins
from run to run, even within one session, and the two plans differ by
one shuffle.
"""

from __future__ import annotations

import json
import os

import pytest

from conftest import CONTRACT_SF

PIN_PATH = os.path.join(os.path.dirname(__file__), "fixtures", "plan_shapes.json")


def test_no_row_at_a_time_python_anywhere(entry_sweep):
    _, signatures = entry_sweep
    offenders = [n for n, s in signatures.items()
                 if s["python_boundary"] == "row_at_a_time"]
    assert offenders == [], f"BatchEvalPython in hot path: {offenders}"


def test_plan_signatures_match_pin(entry_sweep):
    _, signatures = entry_sweep
    with open(PIN_PATH) as f:
        pin = json.load(f)
    sf = os.path.basename(os.path.realpath(CONTRACT_SF))
    if sf != pin["sf"]:
        pytest.skip(f"the pin records {pin['sf']} plans; the sweep ran at {sf}")
    pinned = pin["signatures"]
    if os.environ.get("PLAN_SHAPES_UPDATE") == "1":
        pinned = {name: signatures[name] for name in pinned}
        with open(PIN_PATH, "w") as f:
            json.dump({"sf": sf, "signatures": pinned}, f, indent=1, sort_keys=True)
    diffs = {name: {"pinned": sig, "got": signatures.get(name)}
             for name, sig in pinned.items() if signatures.get(name) != sig}
    assert not diffs, (
        "plan shape changed — if deliberate, regenerate the pin with "
        f"PLAN_SHAPES_UPDATE=1; diffs: {json.dumps(diffs, indent=1)}"
    )
