"""Partition-grain validation runner (north rule, BASELINE.json:6,14):
per-partition pass/fail verdicts, exact violation rows, metrics +
lineage, checkpoint/resume.

Design for 10^12 files:

- Work is keyed by a **bucket** = ``pmod(xxhash64(repo, path), n_buckets)``
  — content-defined, so the same row lands in the same bucket at any
  cluster size, any input partitioning, and across resumed runs
  (unlike ``spark_partition_id``, which is a physical accident).
- One Spark job processes *all pending buckets at once* (buckets are
  a lineage/retry grain, not a scheduling loop — looping would
  serialize the cluster).  Batching is available (``max_buckets_per_
  pass``) to bound the blast radius of a failure.
- Every sink holds one output per pass, named from (run_id,
  snapshot_id, first bucket) as ``pass-<hash>-b<first bucket>``.  A
  pass writes ``violations/pass=<name>/`` with Spark (exact failing
  (row, rule) rows, ``bucket`` a column, ``mode("overwrite")``).  It
  then collects its per-bucket aggregate once (≤ n_buckets rows) and
  the driver writes ``<name>.parquet`` into ``verdicts``, ``metrics``
  and ``checkpoint`` (``fsutil.write_parquet_file``, no Spark job), in
  that order: the checkpoint file commits the pass.  The ``pass=``
  form lets Spark discover the files (readers gain a ``pass`` column);
  the caller's session conf is never touched.
- A crash before the commit leaves the pass pending, so the redo starts
  at the same bucket and replaces the uncommitted outputs, whatever its
  ``max_buckets_per_pass``.  A run with no bucket done yet empties
  ``verdicts`` and ``violations`` first, so they hold the latest result
  per bucket.
- The checkpoint (run_id, snapshot_id, bucket, status, rows,
  pass_secs) lives under ``ledger_dir`` (default ``output_dir``).
  Resume = re-run with the same run_id: done buckets are skipped.  The
  ledger is ≤ runs × n_buckets rows, read on the driver with pyarrow
  (``fsutil.read_parquet``, no Spark job); only a ledger with no file
  means "nothing done", any other read error raises.
- Lineage per bucket (``metrics``): input snapshot fingerprint,
  rule-set hash, rows in, invalid rows, wall seconds of the whole
  pass — enough to answer "which input version produced this
  verdict, with which rules".
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from fences_spark import fsutil
from fences_spark.compiler.ruleset import RuleSet

# Driver-written sinks; verdicts keeps the column order of the old
# bucket-partitioned table (bucket last).  pass_secs is the wall of
# the whole pass, repeated on each of its buckets.
VERDICTS = pa.schema([("rows", pa.int64()), ("rule_id", pa.string()), ("n_pass", pa.int64()),
                      ("n_fail", pa.int64()), ("passed", pa.bool_()), ("bucket", pa.int32())])
METRICS = pa.schema([("run_id", pa.string()), ("snapshot_id", pa.string()),
                     ("bucket", pa.int32()), ("rows", pa.int64()), ("rows_invalid", pa.int64()),
                     ("pass_secs", pa.float64()), ("lineage_json", pa.string())])
CHECKPOINT = pa.schema([("run_id", pa.string()), ("snapshot_id", pa.string()),
                        ("bucket", pa.int32()), ("status", pa.string()), ("rows", pa.int64()),
                        ("pass_secs", pa.float64())])


@dataclass
class RunConfig:
    output_dir: str
    run_id: str
    snapshot_id: str = "unknown"
    n_buckets: int = 64
    bucket_keys: tuple[str, ...] = ("repo", "path")
    max_buckets_per_pass: int | None = None  # None = all pending in one job
    key_columns: tuple[str, ...] = ("repo", "path", "commit")
    # Instance-side violation diagnostics: when True the violations
    # sink gains a ``pointers array<struct<pointer,keyword>>`` column
    # per (row, rule) — the RFC-6901 locations from
    # compiler/pointers.py (JSON dual of the XSD NormalizedXPath
    # diagnostics, reference json_pointer.py:5-57).  Computed only on
    # rows that already failed the boolean tier, so the extra cost
    # scales with the defect rate, not the corpus.
    pointer_diagnostics: bool = False
    # Directory of the checkpoint ledger; None = output_dir.
    # run_incremental keeps one ledger at the table grain while each
    # snapshot's other sinks go to their own subdirectory.
    ledger_dir: str | None = None

    @property
    def violations_path(self) -> str:
        return os.path.join(self.output_dir, "violations")

    @property
    def verdicts_path(self) -> str:
        return os.path.join(self.output_dir, "verdicts")

    @property
    def metrics_path(self) -> str:
        return os.path.join(self.output_dir, "metrics")

    @property
    def checkpoint_path(self) -> str:
        return _checkpoint_path(self.ledger_dir or self.output_dir)


def _checkpoint_path(ledger_dir: str) -> str:
    return os.path.join(ledger_dir, "checkpoint")


def _done_buckets(spark: SparkSession, checkpoint_path: str) -> list[tuple[str, str, int]]:
    """(run_id, snapshot_id, bucket) of every bucket the ledger marks
    done; empty when no ledger file was written."""
    ledger = fsutil.read_parquet(spark, checkpoint_path)
    if ledger is None:
        return []
    return [(r["run_id"], r["snapshot_id"], r["bucket"])
            for r in ledger.to_pylist() if r["status"] == "done"]


def _ruleset_hash(rs: RuleSet) -> str:
    blob = json.dumps(rs.describe(), sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class RunSummary:
    run_id: str
    snapshot_id: str
    buckets_total: int
    buckets_skipped: int
    buckets_processed: int
    rows_processed: int
    violations_written: int
    passes: int = 1
    secs: float = 0.0


class ValidationRunner:
    def __init__(self, spark: SparkSession, ruleset: RuleSet, cfg: RunConfig):
        self.spark = spark
        self.ruleset = ruleset
        self.cfg = cfg
        self.rules_hash = _ruleset_hash(ruleset)

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.pmod(F.xxhash64(*[F.col(k) for k in self.cfg.bucket_keys]),
                   F.lit(self.cfg.n_buckets)).cast("int"),
        )

    # ------------------------------------------------------------------
    def run(self, files: DataFrame) -> RunSummary:
        cfg = self.cfg
        done = {b for run_id, snapshot_id, b in _done_buckets(self.spark, cfg.checkpoint_path)
                if (run_id, snapshot_id) == (cfg.run_id, cfg.snapshot_id)}
        all_buckets = list(range(cfg.n_buckets))
        pending = [b for b in all_buckets if b not in done]
        summary = RunSummary(
            run_id=cfg.run_id,
            snapshot_id=cfg.snapshot_id,
            buckets_total=cfg.n_buckets,
            buckets_skipped=len(done),
            buckets_processed=0,
            rows_processed=0,
            violations_written=0,
            passes=0,
        )
        if not pending:
            return summary
        if not done:
            fsutil.delete(self.spark, cfg.verdicts_path)
            fsutil.delete(self.spark, cfg.violations_path)

        t0 = time.time()
        step = cfg.max_buckets_per_pass or len(pending)
        df_b = self._with_bucket(files)
        for i in range(0, len(pending), step):
            batch = pending[i : i + step]
            self._run_batch(df_b, batch, summary)
            summary.passes += 1
        summary.secs = time.time() - t0
        return summary

    # ------------------------------------------------------------------
    def _pass_name(self, first_bucket: int) -> str:
        key = hashlib.sha256(f"{self.cfg.run_id}\0{self.cfg.snapshot_id}".encode())
        return f"pass-{key.hexdigest()[:16]}-b{first_bucket:05d}"

    def _run_batch(self, df_b: DataFrame, buckets: list[int], summary: RunSummary) -> None:
        cfg = self.cfg
        t0 = time.time()
        if len(buckets) == cfg.n_buckets:
            part = df_b  # full run: skip the filter, scan everything
        else:
            part = df_b.filter(F.col("bucket").isin(buckets))

        res = self.ruleset.apply(part)
        annotated = res.df.withColumn(
            "content_sha256",
            F.sha2(F.col("content"), 256) if "content" in part.columns else F.lit(None).cast("string"),
        )

        # violations: exact rows, one directory per pass
        name = self._pass_name(buckets[0])
        keep = [c for c in cfg.key_columns if c in annotated.columns]
        failing = annotated.filter(~F.col("row_valid"))
        if cfg.pointer_diagnostics:
            # One struct per FAILING rule carrying that rule's pointer
            # entries; cardinality is identical to explode(violations)
            # (a rule whose pointer tier yields no entries still emits
            # its row, with an empty array).  The row_valid filter
            # sits below this projection, so pointer expressions touch
            # only defective rows.
            per_rule = self.ruleset.pointer_entries_per_rule(failing)
            viol = (
                failing.select(
                    *keep, F.col("content_sha256"),
                    F.explode(per_rule).alias("_v"), "bucket",
                )
                .select(
                    *keep, "content_sha256",
                    "_v.rule_id", "_v.pointers", "bucket",
                )
            )
        else:
            viol = failing.select(
                *keep, F.col("content_sha256"),
                F.explode("violations").alias("rule_id"), "bucket",
            )
        viol.write.mode("overwrite").parquet(os.path.join(cfg.violations_path, f"pass={name}"))

        # per-bucket aggregate, collected once (≤ n_buckets rows);
        # verdicts, metrics and checkpoint are all built from it.
        # violation_rows counts EXPLODED (row, rule) violation rows —
        # a row breaking k rules contributes k — matching exactly what
        # the violations sink wrote; rows_invalid counts rows.
        agg_exprs = []
        for rid in res.rule_ids:
            agg_exprs.append(F.sum(F.col(rid).cast("long")).alias(f"{rid}__pass"))
            agg_exprs.append(F.sum((~F.col(rid)).cast("long")).alias(f"{rid}__fail"))
        stats = {
            r["bucket"]: r
            for r in annotated.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("row_valid")).cast("long")).alias("rows_invalid"),
                F.sum(F.size("violations")).alias("violation_rows"),
                *agg_exprs,
            ).collect()
        }
        pass_secs = time.time() - t0
        lineage = json.dumps({
            "snapshot_id": cfg.snapshot_id,
            "rules_hash": self.rules_hash,
            "rule_ids": res.rule_ids,
            "tiers": res.tiers,
        })
        verdicts, metrics, ledger = [], [], []
        for b in buckets:
            r = stats.get(b)
            n_rows = r["rows"] if r else 0
            if r:  # a bucket with no rows has no verdicts
                for rid in res.rule_ids:
                    n_fail = r[f"{rid}__fail"]
                    verdicts.append({"rows": n_rows, "rule_id": rid, "n_pass": r[f"{rid}__pass"],
                                     "n_fail": n_fail, "passed": n_fail == 0, "bucket": b})
            ids = {"run_id": cfg.run_id, "snapshot_id": cfg.snapshot_id, "bucket": b}
            metrics.append({**ids, "rows": n_rows, "rows_invalid": r["rows_invalid"] if r else 0,
                            "pass_secs": pass_secs, "lineage_json": lineage})
            ledger.append({**ids, "status": "done", "rows": n_rows, "pass_secs": pass_secs})
        summary.rows_processed += sum(r["rows"] for r in stats.values())
        summary.buckets_processed += len(buckets)
        summary.violations_written += sum(r["violation_rows"] for r in stats.values())

        # checkpoint last: it commits the pass
        for path, rows, schema in (
            (cfg.verdicts_path, verdicts, VERDICTS),
            (cfg.metrics_path, metrics, METRICS),
            (cfg.checkpoint_path, ledger, CHECKPOINT),
        ):
            fsutil.write_parquet_file(self.spark, path, f"{name}.parquet",
                                      pa.Table.from_pylist(rows, schema=schema))


# ---------------------------------------------------------------------------
# snapshot-incremental resume (snaplog/Iceberg tables)
# ---------------------------------------------------------------------------
def last_validated_snapshot(
    spark: SparkSession, table_root: str, output_dir: str, n_buckets: int = 64
) -> str | None:
    """Newest snapshot in the table's log whose validation completed —
    every bucket checkpointed "done" for that snapshot_id.  Walks the
    snapshot log newest-first (log order is commit order; checkpoint
    rows carry no clock), reading the ≤ runs × n_buckets-row ledger
    on the driver."""
    from fences_spark.sources import snaplog

    if not snaplog.is_snaplog_table(table_root):
        return None
    buckets: dict[str, set[int]] = {}
    for _, snapshot_id, b in _done_buckets(spark, _checkpoint_path(output_dir)):
        buckets.setdefault(snapshot_id, set()).add(b)
    complete = {s for s, bs in buckets.items() if len(bs) >= n_buckets}
    for entry in reversed(snaplog.read_log(table_root)):
        if entry["snapshot_id"] in complete:
            return entry["snapshot_id"]
    return None


def run_incremental(
    spark: SparkSession,
    ruleset: RuleSet,
    table_root: str,
    output_dir: str,
    *,
    run_id: str | None = None,
    n_buckets: int = 64,
    **cfg_kwargs,
) -> RunSummary | None:
    """Validate only rows appended since the last fully-validated
    snapshot of a snapshot-log table (the north rule's
    ``start-snapshot-id`` resume, BASELINE.json:14, as one call).

    - no prior completed snapshot → full run at the current snapshot;
    - prior == current → nothing to do, returns ``None``;
    - table root exists but holds no snapshot log yet (its first
      append has not happened) → nothing to validate, returns
      ``None`` — a scheduled poller pointed at a pre-created table
      root keeps no-opping until data arrives;
    - ``table_root`` is not a snaplog table at all (missing path, or
      a directory with non-snaplog content — e.g. a catalog
      identifier or a typo) → raises ``ValueError`` rather than
      silently reporting "caught up" on a path that will never
      validate anything;
    - otherwise → incremental read (prior, current], validated under
      run_id ``incr_<current>`` so the checkpoint table records the
      new snapshot's buckets independently of the old run's.

    Violations/verdicts/metrics land in per-snapshot subdirectories
    of ``output_dir`` (append-only history, mirroring the input's
    snapshot chain); the checkpoint is written straight to the one
    ledger at the table grain (``ledger_dir``), which
    ``last_validated_snapshot`` reads across the chain.
    """
    from fences_spark.sources import read_table, snaplog

    current = snaplog.current_snapshot_id(table_root)
    if current is None:
        # Distinguish two "no snapshot" cases.  A table root that
        # EXISTS but has no log (or an empty log) is simply waiting
        # for its first append — a benign no-op for a scheduled
        # poller.  Anything else (missing path, a directory full of
        # non-snaplog content, a catalog identifier) must NOT
        # silently no-op: None is indistinguishable from the
        # legitimate "already caught up" return below, so the caller
        # would believe validation is current while nothing can ever
        # run.
        if os.path.isdir(table_root):
            entries = [
                n for n in os.listdir(table_root) if not n.startswith((".", "_"))
            ]
            if set(entries) <= {"metadata", "data"}:
                return None  # pre-first-append table root: nothing to validate yet
        raise ValueError(
            f"{table_root!r} is not a snapshot-log table (and not an "
            "empty pre-first-append table root); for catalog (Iceberg) "
            "sources drive the runner directly with "
            "read_table(..., start_snapshot_id=..., snapshot_id=...) "
            "from the catalog's own snapshot ids"
        )
    prior = last_validated_snapshot(spark, table_root, output_dir, n_buckets)
    if prior == current:
        return None
    if prior is None:
        df = read_table(spark, table_root, snapshot_id=current)
    else:
        df = read_table(
            spark, table_root, start_snapshot_id=prior, snapshot_id=current
        )
    cfg = RunConfig(
        output_dir=os.path.join(output_dir, f"snap-{current}"),
        ledger_dir=output_dir,
        run_id=run_id or f"incr_{current}",
        snapshot_id=current,
        n_buckets=n_buckets,
        **cfg_kwargs,
    )
    return ValidationRunner(spark, ruleset, cfg).run(df)
