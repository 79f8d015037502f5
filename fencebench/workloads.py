"""The benchmark's workloads, driven through the engine's public entry
points, and the per-batch checks against the generator's truth.

A workload object has ``setup`` (program set-up before the first
batch), ``warmup`` (untimed batches, each checked), ``prepare`` (untimed
work before one timed batch), ``batch`` (the timed work) and ``check``
(raises :class:`Mismatch` when an output differs from the truth).
Every timed batch of a workload does the same work.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq

from fencebench.trace import no_span

# Pinned session: local[4] is this benchmark's reference box (nproc 4).
# The heap is sized once, at DRIVER_MEMORY (-Xms), so G1 does not grow it
# on GC-time heuristics: grown on demand, the JVM's RSS came out at either
# 1.1 or 1.6 GB for the same work.  Pages are not pre-touched, so RSS
# counts only heap the JVM has used; the heap the driver keeps across
# collections is the traced run's jvm.old_gen_peak_mb.
CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

# STRICT_TREE of tests/test_dynamic_refs.py: a $dynamicRef tree whose
# unevaluatedProperties applies at every depth, so it compiles to the
# Arrow tier.
STRICT_TREE = {
    "$id": "https://example.test/strict-tree",
    "$dynamicAnchor": "node",
    "$ref": "tree",
    "unevaluatedProperties": False,
    "$defs": {
        "tree": {
            "$id": "tree",
            "$dynamicAnchor": "node",
            "type": "object",
            "properties": {
                "data": {"type": "number"},
                "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
            },
        }
    },
}
# flat object schema: compiles to the variant tier
DOC_FLAT = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string", "minLength": 1},
        "tags": {"type": "array", "items": {"type": "string"}},
    },
    "required": ["id", "name"],
}


class Mismatch(Exception):
    """An output of the engine differs from the generator's truth."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise Mismatch(f"{what}: got {_short(got)}, expected {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


def start_session(work: str, ui: bool):
    """The engine's own session factory with the benchmark's pins."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    from fences_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEMORY}",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        extra.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app="fencebench", cores=CORES,
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra)


def _read(path: str):
    return pq.read_table(path).to_pylist()


def check_runner_sinks(out: str, truth_fail: dict, rows: int, key_cols: list[str],
                       truth_violations: list, *, sha: bool, pointers: bool,
                       snapshot_id: str | None = None, checkpoint: str | None = None) -> dict:
    """Compare the runner's four sinks with the truth; returns the
    per-rule fail counts read from the verdicts sink."""
    viol = _read(os.path.join(out, "violations"))
    got = Counter(tuple(r[c] for c in key_cols) + (r["rule_id"],)
                  + ((r["content_sha256"],) if sha else ()) for r in viol)
    want = Counter(tuple(v) for v in truth_violations)
    _expect("violation rows", got, want)
    if pointers and any(not r["pointers"] for r in viol):
        raise Mismatch("a violation row has no pointer entries")
    verdicts = _read(os.path.join(out, "verdicts"))
    fails = Counter()
    for r in verdicts:
        fails[r["rule_id"]] += r["n_fail"]
        _expect(f"verdict rows of bucket {r['bucket']}", r["n_pass"] + r["n_fail"], r["rows"])
        _expect("verdict passed flag", r["passed"], r["n_fail"] == 0)
    fails = {k: fails.get(k, 0) for k in truth_fail}
    _expect("per-rule fail counts", fails, truth_fail)
    metrics = _read(os.path.join(out, "metrics"))
    _expect("metrics rows", sum(r["rows"] for r in metrics), rows)
    _expect("metrics invalid rows", sum(r["rows_invalid"] for r in metrics),
            len({tuple(v[:len(key_cols)]) for v in truth_violations}))
    cp = _read(checkpoint or os.path.join(out, "checkpoint"))
    if snapshot_id is not None:
        cp = [r for r in cp if r["snapshot_id"] == snapshot_id]
    _expect("checkpointed buckets", sorted(r["bucket"] for r in cp if r["status"] == "done"),
            list(range(64)))
    return fails


# ---------------------------------------------------------------------------
class FilesBulk:
    """One full ValidationRunner.run of the flagship files rule set per
    batch, with a fresh run id and output directory."""

    warmup_batches = 3
    pointer_diagnostics = False
    span = staticmethod(no_span)

    def __init__(self, inputs: str, work: str, truth: dict):
        self.inputs, self.work, self.truth = inputs, work, truth
        self.rows = truth["rows"]
        self.k = 0

    def setup(self, spark) -> None:
        from fences_spark import flagship

        self.spark = spark
        self.df = spark.read.parquet(os.path.join(self.inputs, "files.parquet"))
        self.ruleset = flagship.files_ruleset()

    def warmup(self, i: int):
        return self.batch()

    def prepare(self) -> None:
        pass

    def batch(self):
        from fences_spark.run.runner import RunConfig, ValidationRunner

        self.k += 1
        out = os.path.join(self.work, "out", f"b{self.k}")
        cfg = RunConfig(output_dir=out, run_id=f"b{self.k}", snapshot_id="files")
        summary = ValidationRunner(self.spark, self.ruleset, cfg).run(self.df)
        return out, summary

    def check(self, result) -> dict:
        out, summary = result
        try:
            _expect("rows processed", summary.rows_processed, self.rows)
            _expect("violations written", summary.violations_written,
                    len(self.truth["violations"]))
            return check_runner_sinks(
                out, self.truth["rule_fail"], self.rows, ["repo", "path", "commit"],
                self.truth["violations"], sha=True, pointers=False)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def probe_path(self) -> str:
        return os.path.join(self.inputs, "files.parquet")

    def probe_input(self):
        return self.df


# ---------------------------------------------------------------------------
class JsonPoll:
    """A poller over a snapshot-log table of JSON documents.  A poll
    appends one slice, validates it with run_incremental (one variant
    and one Arrow rule, pointer diagnostics on) and dedups it against
    every earlier poll.  The warm-up polls build the history; every
    timed poll restores that history and replays the next slice."""

    pointer_diagnostics = True
    span = staticmethod(no_span)

    def __init__(self, inputs: str, work: str, truth: dict):
        self.inputs, self.work, self.truth = inputs, work, truth
        self.history = truth["history"]
        self.warmup_batches = self.history
        self.rows = truth["slices"][self.history]["rows"]
        self.live = os.path.join(work, "live")
        self.pristine = os.path.join(work, "pristine")

    def setup(self, spark) -> None:
        from fences_spark.compiler.ruleset import RuleSet

        self.spark = spark
        self.ruleset = (RuleSet()
                        .add("doc_flat", "doc", DOC_FLAT, mode="json")
                        .add("tree_strict", "tree", STRICT_TREE, mode="json"))
        shutil.rmtree(self.live, ignore_errors=True)
        os.makedirs(self.live)

    def _root(self, name: str) -> str:
        return os.path.join(self.live, name)

    def slice_path(self, i: int) -> str:
        return os.path.join(self.inputs, f"slice_{i:03d}.parquet")

    def poll(self, i: int):
        from fences_spark.operators.dedup import incremental_exact_dedup
        from fences_spark.run.runner import run_incremental
        from fences_spark.sources import snaplog

        sl = self.spark.read.parquet(self.slice_path(i))
        snap = snaplog.append(self.spark, self._root("table"), sl)
        summary = run_incremental(self.spark, self.ruleset, self._root("table"),
                                  self._root("out"), pointer_diagnostics=True)
        with self.span("dedup.incremental"):
            survivors, _ = incremental_exact_dedup(self.spark, self._root("state"), sl,
                                                   "doc_id", "doc")
            ids = sorted(r[0] for r in survivors.select("doc_id").collect())
        return i, snap, summary, ids

    def warmup(self, i: int):
        result = self.poll(i)
        if i == self.history - 1:
            shutil.rmtree(self.pristine, ignore_errors=True)
            shutil.copytree(self.live, self.pristine)
        return result

    def prepare(self) -> None:
        shutil.rmtree(self.live)
        shutil.copytree(self.pristine, self.live)

    def batch(self):
        return self.poll(self.history)

    def check(self, result) -> dict:
        i, snap, summary, ids = result
        t = self.truth["slices"][i]
        _expect("rows processed", summary.rows_processed, t["rows"])
        _expect("dedup survivors", ids, t["survivors"])
        return check_runner_sinks(
            os.path.join(self._root("out"), f"snap-{snap}"), t["rule_fail"], t["rows"],
            ["repo", "path"], t["violations"], sha=False, pointers=True,
            snapshot_id=snap, checkpoint=os.path.join(self._root("out"), "checkpoint"))

    def probe_path(self) -> str:
        return self.slice_path(self.history)

    def probe_input(self):
        return self.spark.read.parquet(self.probe_path())


# ---------------------------------------------------------------------------
def run_curate(spark, inputs: str, out: str):
    """One run_pipeline batch over the seeded corpus, quality band on."""
    from fences_spark.run.pipeline import PipelineConfig, run_pipeline

    docs = spark.read.parquet(os.path.join(inputs, "docs.parquet"))
    cfg = PipelineConfig(output_dir=out, quality_min_pct=0.2, strata_col="stratum")
    return run_pipeline(spark, docs, cfg)


def check_curate(out: str, summary: dict, truth: dict) -> None:
    with open(os.path.join(out, "summary.json")) as f:
        written = json.load(f)
    _expect("summary.json", written, summary)
    _expect("input_docs", summary["input_docs"], truth["input_docs"])
    _expect("valid_docs", summary["valid_docs"], truth["valid_docs"])
    viol = _read(os.path.join(out, "violations"))
    _expect("violation ids", sorted(r["doc_id"] for r in viol), truth["invalid_ids"])


WORKLOADS = {"files_bulk": FilesBulk, "json_poll": JsonPoll}
