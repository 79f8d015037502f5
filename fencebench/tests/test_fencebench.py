"""Tests of the benchmark itself: the generator and its truth, the
per-batch checker, span self-time, pipeline job attribution and the
repeatability of the traced run's counts.

    python3 -m pytest fencebench/tests -q

The Spark tests start a local[4] session; the last test runs the
benchmark twice as a subprocess (a few minutes).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from fencebench import gen, trace  # noqa: E402


def _digests(d: str) -> dict:
    return {os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(os.path.join(d, "*")))}


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_files(tmp_path, workload):
    gen.generate(workload, 11, str(tmp_path / "a"))
    gen.generate(workload, 11, str(tmp_path / "b"))
    gen.generate(workload, 12, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def _files_fails(r: dict) -> list[str]:
    ok = {
        "repo_format": re.fullmatch(r"[-\w.]+/[-\w.]+", r["repo"], re.ASCII),
        "path_nonempty": len(r["path"]) >= 1 and re.fullmatch(r"[-\w./]+", r["path"], re.ASCII),
        "commit_sha": re.fullmatch(r"[0-9a-f]{40}", r["commit"]),
        "lang_enum": r["lang"] in gen.LANGS,
        "content_present": len(r["content"]) >= 1,
    }
    return sorted(k for k, v in ok.items() if not v)


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _doc_ok(text: str) -> bool:
    try:
        d = json.loads(text)
    except ValueError:
        return False
    return (isinstance(d, dict)
            and isinstance(d.get("id"), int) and not isinstance(d.get("id"), bool)
            and isinstance(d.get("name"), str) and len(d["name"]) >= 1
            and all(isinstance(t, str) for t in d.get("tags", [])))


def _tree_ok(node) -> bool:
    """STRICT_TREE by hand: unevaluatedProperties applies at every depth."""
    if not isinstance(node, dict) or set(node) - {"data", "children"}:
        return False
    if "data" in node and not _is_num(node["data"]):
        return False
    kids = node.get("children", [])
    return isinstance(kids, list) and all(_tree_ok(k) for k in kids)


def test_brute_force_recount_matches_truth(tmp_path):
    t = gen.generate("files_bulk", 3, str(tmp_path / "f"), n_rows=3000)
    rows = pq.read_table(str(tmp_path / "f" / "files.parquet")).to_pylist()
    viol = sorted([r["repo"], r["path"], r["commit"], rule,
                   hashlib.sha256(r["content"].encode()).hexdigest()]
                  for r in rows for rule in _files_fails(r))
    assert viol == t["violations"]
    assert dict(Counter(v[3] for v in viol)) == {k: v for k, v in t["rule_fail"].items() if v}
    assert all(v > 0 for v in t["rule_fail"].values())

    t = gen.generate("json_poll", 3, str(tmp_path / "j"), n_rows=400, n_slices=3)
    seen = set()
    for i, s in enumerate(t["slices"]):
        rows = pq.read_table(str(tmp_path / "j" / f"slice_{i:03d}.parquet")).to_pylist()
        viol = sorted([r["repo"], r["path"], rule] for r in rows for rule, ok in
                      (("doc_flat", _doc_ok(r["doc"])),
                       ("tree_strict", _tree_ok(json.loads(r["tree"])))) if not ok)
        assert viol == s["violations"]
        first = {}
        for r in rows:
            first.setdefault(r["doc"], r["doc_id"])
        assert sorted(v for d, v in first.items() if d not in seen) == s["survivors"]
        seen.update(first)
    assert any(len(s["survivors"]) < s["rows"] for s in t["slices"][1:])  # replays planted

    t = gen.generate("curate_pipeline", 3, str(tmp_path / "c"), n_docs=500)
    rows = pq.read_table(str(tmp_path / "c" / "docs.parquet")).to_pylist()
    invalid = [r["doc_id"] for r in rows if len(r["text"]) < 1]
    assert invalid == t["invalid_ids"]
    assert t["valid_docs"] == len(rows) - len(invalid) == t["input_docs"] - len(invalid)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
def _span(sid, start, end, parent=None):
    return trace.Span(sid, f"s{sid}", parent, start, end)


def test_self_time_nested_and_overlapping():
    parent = _span(0, 0.0, 10.0)
    # two overlapping children (2-5 and 4-7 cover 2-7) and one nested
    # inside the first (3-4), which must not count again
    kids = [_span(1, 2.0, 5.0, 0), _span(2, 4.0, 7.0, 0), _span(3, 3.0, 4.0, 0)]
    assert trace.self_time(parent, kids) == pytest.approx(5.0)
    # a child running past the parent's end is clipped to the parent
    assert trace.self_time(parent, [_span(4, 8.0, 12.0, 0)]) == pytest.approx(8.0)
    assert trace.self_time(parent, []) == pytest.approx(10.0)
    assert trace.union_length([(0, 1), (1, 2), (5, 6)]) == pytest.approx(3.0)


def test_tracer_nesting_and_descendants():
    tr = trace.Tracer()
    with tr.span("a") as a:
        with tr.span("b") as b:
            with tr.span("c"):
                pass
        with tr.span("d"):
            pass
    assert [s.parent for s in tr.spans] == [None, a.sid, b.sid, a.sid]
    assert tr.descendants(a) == {1, 2, 3}
    assert 0 <= trace.self_time(a, tr.children(a)) <= a.duration


def test_parse_metric_units():
    assert trace.parse_metric("3,000") == 3000
    assert trace.parse_metric("1.5 KiB") == 1536
    assert trace.parse_metric("64") == 64


# ---------------------------------------------------------------------------
# Spark: the checker and the traced pipeline batch
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from fencebench import workloads
    from fencebench.procs import stop_spark

    work = str(tmp_path_factory.mktemp("session"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    s = workloads.start_session(work, ui=True)
    yield s
    stop_spark(s)


def test_checker_counts_a_flipped_verdict_as_failed(spark, tmp_path):
    from fencebench import workloads
    from fencebench.run import Counts

    truth = gen.generate("files_bulk", 5, str(tmp_path / "in"), n_rows=600)
    wl = workloads.FilesBulk(str(tmp_path / "in"), str(tmp_path), truth)
    wl.setup(spark)
    counts = Counts()
    assert counts.run("clean batch", wl.check, wl.batch()) is not None

    out, summary = wl.batch()
    part = sorted(glob.glob(os.path.join(out, "verdicts", "bucket=*", "*.parquet")))[0]
    table = pq.read_table(part)
    rows = table.to_pylist()
    r = rows[0]
    r["n_fail"], r["n_pass"] = r["n_fail"] + 1, r["n_pass"] - 1
    r["passed"] = r["n_fail"] == 0
    pq.write_table(type(table).from_pylist(rows, schema=table.schema), part)
    assert counts.run("corrupted batch", wl.check, (out, summary)) is None
    assert (counts.attempted, counts.failed) == (2, 1)


def test_every_pipeline_job_is_attributed_once(spark, tmp_path):
    from fencebench import probes, workloads

    truth = gen.generate("curate_pipeline", 5, str(tmp_path / "c"), n_docs=400)
    tracer = trace.Tracer(spark.sparkContext)
    rest = trace.SparkRest(spark.sparkContext)
    out = str(tmp_path / "out")
    probes.install(tracer)
    try:
        t0 = time.time()
        with tracer.span("pipeline.run") as sp:
            summary = workloads.run_curate(spark, str(tmp_path / "c"), out)
        t1 = time.time()
    finally:
        tracer.unwrap_all()
    workloads.check_curate(out, summary, truth)
    rest.settle()
    snap = rest.snapshot()
    m, stage_of = probes.pipeline_metrics(
        tracer, snap, sp, out, truth["input_docs"],
        os.path.getsize(str(tmp_path / "c" / "docs.parquet")))
    # every job submitted while the pipeline ran carries one of its spans
    window = {j["jobId"] for j in snap.jobs.values()
              if t0 - 0.01 <= trace._ts(j["submissionTime"]) <= t1 + 0.01}
    assert window == set(stage_of)
    assert set(stage_of.values()) <= set(probes.PIPELINE_STAGES) | {"unattributed"}
    assert m["pipeline.jobs"] == len(stage_of)
    # every sink-writing stage was found by its write
    for stage in ("validate", "curate", "quality_band", "pack", "shard"):
        assert stage in stage_of.values(), stage
    assert m["pipeline.input_scans"] >= 1.0


# ---------------------------------------------------------------------------
# the traced run's counts repeat exactly
# ---------------------------------------------------------------------------
COUNTS = ["runner.jobs", "runner.input_scans", "tier.arrow.rows_per_input_row",
          "runner.files_written"]


def _traced(seed: int) -> dict:
    p = subprocess.run([sys.executable, os.path.join(ROOT, "fencebench", "run.py"),
                        "--workload", "json_poll", "--seed", str(seed), "--seconds", "1",
                        "--trace", "1"], capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_traced_counts_repeat_exactly():
    a, b = _traced(21), _traced(21)
    assert a["correct"] and b["correct"]
    got = [{k: r["metrics"][k]["value"] for k in COUNTS} for r in (a, b)]
    assert got[0] == got[1]
    assert got[0]["runner.input_scans"] == 2.0
    assert got[0]["tier.arrow.rows_per_input_row"] > 2.0


def test_benchmark_json_names_the_traced_metrics():
    from fencebench import probes

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == probes.UNITS
    assert bench["paths"] == ["fencebench"]
