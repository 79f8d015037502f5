"""The traced run: per-layer metrics from spans, the Spark status REST
API and a few probes.

Layers are named after the engine's modules: ``session``, ``compiler``
(typed / variant / Arrow tiers), ``run.runner``, ``sources.snaplog``,
``operators.dedup`` and ``run.pipeline`` with its ``operators.*``
stages.  A layer that a workload never calls reports 0.

How pipeline time is split into stages: a Spark job belongs to the
stage whose sink it writes (the write path in the SQL plan), else to
the wrapped operator call it ran inside, else to ``unattributed`` (the
trailing counts, for example).  A stage's time is the union of its
jobs' walls.  Spark is lazy, so work on a persisted frame is charged to
the first stage whose job computes it.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Iterator

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from fencebench import trace
from fencebench.workloads import Mismatch, check_curate, run_curate

PIPELINE_STAGES = ["validate", "curate", "quality_band", "near_dup", "pack", "shard"]
SINK_STAGE = {"verdicts": "validate", "violations": "validate", "curation": "curate",
              "quality": "quality_band", "sequences": "pack", "corpus": "shard"}
SPAN_STAGE = {"compiler.apply": "validate", "pipeline.curate": "curate",
              "pipeline.quality_band": "quality_band", "pipeline.near_dup": "near_dup",
              "pipeline.pack": "pack", "pipeline.shard": "shard"}
TIERS = {"typed": "typed", "variant": "variant", "arrow": "arrow_udf"}
MB = float(1 << 20)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def install(tracer: trace.Tracer) -> None:
    """Wrap the engine functions whose calls become spans.  Each is a
    module or class attribute the engine looks up at call time."""
    from fences_spark.compiler.ruleset import RuleSet
    from fences_spark.operators import curate, dedup, sampling, text
    from fences_spark.run import runner
    from fences_spark.sources import snaplog

    tracer.wrap(RuleSet, "apply", "compiler.apply",
                on_result=lambda sp, a, k, r: sp.attrs.update(tiers=dict(r.tiers)))
    tracer.wrap(runner.ValidationRunner, "run", "runner.run")
    tracer.wrap(runner, "last_validated_snapshot", "runner.last_validated")
    tracer.wrap(runner, "run_incremental", "runner.incremental")
    tracer.wrap(snaplog, "append", "snaplog.append")
    tracer.wrap(snaplog, "read", "snaplog.read")
    tracer.wrap(snaplog, "read_incremental", "snaplog.read")
    tracer.wrap(snaplog, "_read_dirs", "snaplog.read",
                on_result=lambda sp, a, k, r: sp.attrs.update(dirs=len(a[2])))
    tracer.wrap(curate, "curate_documents", "pipeline.curate")
    tracer.wrap(curate, "curate_documents_full", "pipeline.curate")
    tracer.wrap(sampling, "quality_percentiles_staged", "pipeline.quality_band")
    tracer.wrap(dedup, "minhash_lsh_pairs", "pipeline.near_dup")
    tracer.wrap(dedup, "connected_components", "pipeline.near_dup")
    tracer.wrap(text, "pack_sequences", "pipeline.pack")
    tracer.wrap(sampling, "shuffle_shards", "pipeline.shard")


def _jobs_under(tracer: trace.Tracer, snap: trace.RestSnapshot, spans) -> list[dict]:
    groups = set()
    for s in spans:
        groups |= {f"fb-{i}" for i in {s.sid} | tracer.descendants(s)}
    return snap.jobs_in(groups)


def batch_metrics(tracer: trace.Tracer, snap: trace.RestSnapshot, batch: trace.Span,
                  rows: int, slice_bytes: int) -> dict:
    """Per-layer metrics of one traced workload batch."""
    inside = [tracer.spans[i] for i in sorted(tracer.descendants(batch))]

    def total(name):
        """Self time of the layer's spans: nested spans of other layers
        are charged to those, so layer times never count twice."""
        return sum(trace.self_time(s, tracer.children(s)) for s in inside if s.name == name)

    run_spans = [s for s in inside if s.name == "runner.run"]
    rjobs = _jobs_under(tracer, snap, run_spans)
    rexec = snap.executions_of(rjobs)
    tiers = next((s.attrs["tiers"] for s in inside if s.name == "compiler.apply"), {})
    dirs = [s.attrs["dirs"] for s in inside if "dirs" in s.attrs]
    djobs = _jobs_under(tracer, snap, [s for s in inside if s.name == "dedup.incremental"])
    _, state_rows = trace.scan_rows(snap.executions_of(djobs), slice_bytes)
    m = {
        "compiler.apply_s": total("compiler.apply"),
        "runner.run_s": total("runner.run"),
        "runner.jobs": len(rjobs),
        # parquet scan rows, so reads of the runner's own cache do not count
        "runner.input_scans": sum(trace.scan_rows(rexec, 0)) / rows,
        "runner.files_written": trace.node_metric(
            rexec, "Execute InsertIntoHadoopFsRelationCommand", "number of written files"),
        "runner.shuffle_write_mb": snap.stage_sum(rjobs, "shuffleWriteBytes") / MB,
        "runner.spill_mb": snap.stage_sum(rjobs, "diskBytesSpilled") / MB,
        "tier.arrow.rows_per_input_row": trace.node_metric(
            rexec, "ArrowEvalPython", "number of output rows") / rows,
        "runner.last_validated_s": total("runner.last_validated"),
        "runner.incremental_s": total("runner.incremental"),
        "snaplog.append_s": total("snaplog.append"),
        "snaplog.read_s": total("snaplog.read"),
        "snaplog.dirs_per_read": sum(dirs) / len(dirs) if dirs else 0.0,
        "dedup.incremental_s": total("dedup.incremental"),
        "dedup.state_rows_read": state_rows,
    }
    for key, tier in TIERS.items():
        m[f"compiler.rules_{key}"] = sum(1 for t in tiers.values() if t == tier)
    return m


def attribute_jobs(tracer: trace.Tracer, snap: trace.RestSnapshot, jobs: list[dict],
                   out_dir: str) -> dict[int, str]:
    """Pipeline stage of every job: by the sink it writes, else by the
    wrapped operator span it ran in, else ``unattributed``."""
    out = {}
    for j in jobs:
        stage = None
        e = snap.execution_of_job(j["jobId"])
        for p in trace.written_paths(e) if e else []:
            rel = os.path.relpath(p.removeprefix("file:"), out_dir)
            stage = SINK_STAGE.get(rel.split(os.sep)[0], stage)
        sid = int(j["jobGroup"][3:])
        while stage is None and sid is not None:
            sp = tracer.spans[sid]
            stage = SPAN_STAGE.get(sp.name)
            sid = sp.parent
        out[j["jobId"]] = stage or "unattributed"
    return out


def pipeline_metrics(tracer, snap, run_span, out_dir: str, docs: int, docs_bytes: int):
    jobs = _jobs_under(tracer, snap, [run_span])
    stage_of = attribute_jobs(tracer, snap, jobs, out_dir)
    m = {}
    for stage in PIPELINE_STAGES + ["unattributed"]:
        m[f"pipeline.{stage}_s"] = trace.union_length(
            [snap.job_interval(j) for j in jobs if stage_of[j["jobId"]] == stage])
    source_rows, _ = trace.scan_rows(snap.executions_of(jobs), docs_bytes)
    m.update({
        "pipeline.jobs": len(jobs),
        "pipeline.input_scans": source_rows / docs,
        "pipeline.shuffle_write_mb": snap.stage_sum(jobs, "shuffleWriteBytes") / MB,
        "pipeline.spill_mb": snap.stage_sum(jobs, "diskBytesSpilled") / MB,
    })
    return m, stage_of


# ---------------------------------------------------------------------------
# probes
# ---------------------------------------------------------------------------
@F.pandas_udf(BooleanType())
def _pass_through(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Receives the column like an Arrow-tier rule and returns one
    boolean per row without evaluating anything: Arrow transfer only."""
    for s in batches:
        yield pd.Series(True, index=s.index, dtype="boolean")


def _timed_collect(df, reps: int):
    walls, row = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        row = df.collect()[0]
        walls.append(time.perf_counter() - t0)
    return _median(walls), row


def tier_probe(df, rules, reps: int = 3):
    """One aggregate of the rules' fail counts over ``df``, no sink.
    Returns (median wall, {rule_id: fails}, {rule_id: tier})."""
    from fences_spark.compiler.ruleset import RuleSet

    res = RuleSet(rules=list(rules)).apply(df)
    agg = res.df.agg(*[F.sum((~F.col(r)).cast("long")).alias(r) for r in res.rule_ids])
    wall, row = _timed_collect(agg, reps)
    return wall, {r: int(row[r]) for r in res.rule_ids}, res.tiers


def tier_metrics(wl, batch_fails: dict, rows: int) -> dict:
    """rows/s per tier, and the Arrow tier split into transfer and eval.
    Each probe must report the runner batch's per-rule fail counts."""
    df = wl.probe_input()
    tiers = wl.ruleset.apply(df).tiers
    m = {}
    arrow_wall = 0.0
    for key, tier in TIERS.items():
        rules = [r for r in wl.ruleset.rules if tiers[r.rule_id] == tier]
        if not rules:
            m[f"tier.{key}.rows_per_s"] = 0.0
            continue
        wall, fails, got = tier_probe(df, rules)
        if any(t != tier for t in got.values()):
            raise Mismatch(f"{key} probe compiled to tiers {got}")
        want = {r.rule_id: batch_fails[r.rule_id] for r in rules}
        if fails != want:
            raise Mismatch(f"{key} probe fail counts {fails} != runner batch {want}")
        m[f"tier.{key}.rows_per_s"] = rows / wall
        if key == "arrow":
            arrow_wall = wall
    transfer = 0.0
    arrow_cols = sorted({r.column for r in wl.ruleset.rules if tiers[r.rule_id] == "arrow_udf"})
    if arrow_cols:
        agg = df.agg(*[F.sum(_pass_through(F.col(c)).cast("long")) for c in arrow_cols])
        transfer, _ = _timed_collect(agg, 3)
    m["tier.arrow.transfer_s"] = transfer
    m["tier.arrow.eval_s"] = arrow_wall - transfer if arrow_wall else 0.0
    return m


FIXED_PROBE_ROWS = 1_000  # enough rows that every one of the 64 buckets is written


def fixed_probe(spark, wl, work: str, reps: int = 3) -> float:
    """Median wall of ValidationRunner.run on the first 1,000 rows of the
    workload's input: the runner's fixed cost per call.  A 1-row input
    would write one bucket instead of 64 and miss most of that cost."""
    from fences_spark.run.runner import RunConfig, ValidationRunner

    small = os.path.join(work, "fixed_probe.parquet")
    pq.write_table(pq.read_table(wl.probe_path()).slice(0, FIXED_PROBE_ROWS), small)
    df = spark.read.parquet(small)
    walls = []
    for k in range(reps):
        cfg = RunConfig(output_dir=os.path.join(work, "fixed", str(k)), run_id=f"fixed{k}",
                        pointer_diagnostics=wl.pointer_diagnostics)
        t0 = time.perf_counter()
        ValidationRunner(spark, wl.ruleset, cfg).run(df)
        walls.append(time.perf_counter() - t0)
    return _median(walls)


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation since start: the heap
    the driver keeps across collections (persisted frames, listener and
    plan state), which the fixed heap size hides from RSS."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            return pool.getPeakUsage().getUsed() / 2**20
    return 0.0


# ---------------------------------------------------------------------------
def traced_run(spark, wl, counts, seconds: float, work: str, timed_one, known: dict) -> dict:
    """Untraced and traced timed batches, alternating so that any drift
    left after warm-up falls on both alike (at least one pair, so a run
    stays short when batches are slow), then the probes.  The UI is on
    for both kinds.  ``known`` holds the per-layer metrics the caller
    measured itself (session start, set-up and cold-batch walls).
    Returns every per-layer metric."""
    tracer = trace.Tracer(spark.sparkContext)
    rest = trace.SparkRest(spark.sparkContext)
    slice_bytes = os.path.getsize(wl.probe_path())
    plain, traced, per_batch = [], [], []

    def traced_batch():
        wl.prepare()
        install(tracer)
        wl.span = tracer.span
        try:
            with tracer.span("batch") as b:
                t0 = time.perf_counter()
                result = wl.batch()
                wall = time.perf_counter() - t0
        finally:
            tracer.unwrap_all()
            wl.span = trace.no_span
        return wall, wl.check(result), b

    while sum(w for w, _ in plain + traced) < seconds or not traced:
        p = timed_one(wl, counts, f"untraced batch {len(plain)}")
        if p is None:
            break
        plain.append(p)
        t = counts.run(f"traced batch {len(traced)}", traced_batch)
        if t is None:
            break
        traced.append(t[:2])
        rest.settle()
        per_batch.append(batch_metrics(tracer, rest.snapshot(), t[2], wl.rows, slice_bytes))

    m = {k: _median([pb[k] for pb in per_batch]) for k in per_batch[0]} if per_batch else {}
    m["jvm.old_gen_peak_mb"] = old_gen_peak_mb(spark)  # before the probes add their own
    corpus = os.path.join(work, "corpus")
    if os.path.isfile(os.path.join(corpus, "truth.json")):
        m.update(counts.run("pipeline probe", _pipeline_probe, spark, tracer, rest,
                            corpus, work) or {})
    batch_fails = traced[-1][1] if traced else {}
    m.update(counts.run("tier probes", tier_metrics, wl, batch_fails, wl.rows) or {})
    m["runner.fixed_s"] = counts.run("fixed-cost probe", fixed_probe, spark, wl, work) or 0.0
    m.update(known)
    m["wall.batch_s_p50"] = _median([w for w, _ in plain])
    m["trace.overhead_s"] = (_median([w for w, _ in traced]) - _median([w for w, _ in plain])
                             if traced and plain else 0.0)
    # a layer the workload never calls, or a probe that failed, reads 0
    return {k: (float(m.get(k, 0.0)), u) for k, u in UNITS.items()}


def _pipeline_probe(spark, tracer, rest, corpus: str, work: str) -> dict:
    import json

    with open(os.path.join(corpus, "truth.json")) as f:
        truth = json.load(f)
    out = os.path.join(work, "pipeline_out")
    install(tracer)
    try:
        with tracer.span("pipeline.run") as sp:
            summary = run_curate(spark, corpus, out)
    finally:
        tracer.unwrap_all()
    check_curate(out, summary, truth)
    rest.settle()
    m, _ = pipeline_metrics(tracer, rest.snapshot(), sp, out, truth["input_docs"],
                            os.path.getsize(os.path.join(corpus, "docs.parquet")))
    return m


UNITS = {
    "session.start_s": "s",
    "compiler.apply_s": "s",
    "compiler.rules_typed": "count",
    "compiler.rules_variant": "count",
    "compiler.rules_arrow": "count",
    "tier.typed.rows_per_s": "1/s",
    "tier.variant.rows_per_s": "1/s",
    "tier.arrow.rows_per_s": "1/s",
    "tier.arrow.transfer_s": "s",
    "tier.arrow.eval_s": "s",
    "tier.arrow.rows_per_input_row": "ratio",
    "runner.run_s": "s",
    "runner.fixed_s": "s",
    "runner.jobs": "count",
    "runner.input_scans": "ratio",
    "runner.files_written": "count",
    "runner.shuffle_write_mb": "MB",
    "runner.spill_mb": "MB",
    "runner.last_validated_s": "s",
    "runner.incremental_s": "s",
    "snaplog.append_s": "s",
    "snaplog.read_s": "s",
    "snaplog.dirs_per_read": "count",
    "dedup.incremental_s": "s",
    "dedup.state_rows_read": "count",
    "pipeline.validate_s": "s",
    "pipeline.curate_s": "s",
    "pipeline.quality_band_s": "s",
    "pipeline.near_dup_s": "s",
    "pipeline.pack_s": "s",
    "pipeline.shard_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.jobs": "count",
    "pipeline.input_scans": "ratio",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB",
    "trace.overhead_s": "s",
    "jvm.old_gen_peak_mb": "MB",
    "wall.setup_s": "s",
    "wall.cold_batch_s": "s",
    "wall.batch_s_p50": "s",
}
