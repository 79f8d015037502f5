"""Structured Streaming upgrade path (SURVEY.md §2.B streaming row).

The north rule's resume mechanism is batch-incremental over Iceberg
snapshots (fences_spark.run.runner); this module is the optional
``readStream`` form of the same pipeline: a file/table stream of
(repo, path, commit, lang, content) rows is validated continuously,
with the per-rule predicate projection applied **before** the sink so
each micro-batch writes verdict-annotated rows + aggregated bucket
verdicts exactly once (checkpointed by Spark's own WAL; each sink
overwrites its ``epoch_id=<n>/`` partition, so a replayed epoch whose
commit was not recorded does not duplicate rows).

Design notes for cluster scale:
- the predicate projection is narrow (no shuffle) — a streaming query
  over it keeps the stateless path: no watermark/state store needed;
- bucket verdict aggregation is done per micro-batch inside
  ``foreachBatch`` (deterministic re-execution per epoch id), not as
  a stateful streaming agg — the per-epoch sink contract of drift.py;
- the reference has no streaming analog (fully batch, eager —
  SURVEY.md §2.B); semantics here are the batch semantics applied per
  micro-batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from fences_spark.compiler.ruleset import RuleSet
from fences_spark.streaming.drift import reset_stale_epochs


@dataclass
class StreamConfig:
    output_dir: str
    n_buckets: int = 64
    bucket_keys: tuple[str, ...] = ("repo", "path")

    @property
    def rows_path(self) -> str:
        return os.path.join(self.output_dir, "stream_rows")

    @property
    def verdicts_path(self) -> str:
        return os.path.join(self.output_dir, "stream_verdicts")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.output_dir, "stream_checkpoint")


def annotate_stream(
    stream_df: DataFrame,
    ruleset: RuleSet,
    cfg: StreamConfig,
    *,
    pointer_diagnostics: bool = False,
) -> DataFrame:
    """Narrow verdict projection over a streaming DataFrame: input
    columns + per-rule booleans + row_valid + violations + bucket +
    content sha256 invariant.  ``pointer_diagnostics=True`` adds a
    ``violation_pointers array<struct<rule_id, pointers>>`` column
    (NULL on valid rows) — the streaming dual of
    ``RunConfig(pointer_diagnostics=True)``; the projection stays
    narrow and stateless.

    Cost tracks the defect rate on every tier: typed-tier pointer
    expressions are conditional in codegen, and Arrow-tier rules are
    gated per failing rule (the UDF input is NULL unless the rule
    failed, short-circuiting Python-side — Spark extracts pandas UDFs
    out of ``when`` branches, so the gating lives in the UDF's input
    expression instead; see Rule.compile_pointers)."""
    res = ruleset.apply(stream_df)
    if pointer_diagnostics:
        res.df = res.df.withColumn(
            "violation_pointers",
            F.when(
                ~F.col("row_valid"), ruleset.pointer_entries_per_rule(res.df)
            ),
        )
    if "bucket" in stream_df.columns:
        # caller pre-bucketed (e.g. a cross-engine-reproducible key);
        # keep it — xxhash64 is Spark-only and an oracle can't re-derive it
        out = res.df
    else:
        out = res.df.withColumn(
            "bucket",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in cfg.bucket_keys]), F.lit(cfg.n_buckets)
            ).cast("int"),
        )
    if "content" in stream_df.columns:
        out = out.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    return out


def start_validation_stream(
    stream_df: DataFrame,
    ruleset: RuleSet,
    cfg: StreamConfig,
    *,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Validate a stream end-to-end.  Each micro-batch overwrites its
    ``epoch_id=<n>/`` partition of the annotated rows and of its
    per-(bucket, rule) verdict counts; both under ``cfg.output_dir``.

    ``trigger_available_now=True`` drains everything currently
    available and stops — the batch-incremental mode used in tests
    and backfills; ``False`` runs continuously (micro-batches).
    """
    rule_ids = [r.rule_id for r in ruleset.rules]
    annotated = annotate_stream(stream_df, ruleset, cfg)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            part = f"epoch_id={epoch_id}"
            batch_df.write.mode("overwrite").parquet(os.path.join(cfg.rows_path, part))
            agg_exprs = []
            for rid in rule_ids:
                agg_exprs.append(F.sum(F.col(rid).cast("long")).alias(f"{rid}__pass"))
                agg_exprs.append(F.sum((~F.col(rid)).cast("long")).alias(f"{rid}__fail"))
            per_bucket = batch_df.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("row_valid")).cast("long")).alias("rows_invalid"),
                *agg_exprs,
            )
            stack = ", ".join(f"'{rid}', {rid}__pass, {rid}__fail" for rid in rule_ids)
            per_bucket.selectExpr(
                "bucket",
                "rows",
                "rows_invalid",
                f"stack({len(rule_ids)}, {stack}) as (rule_id, n_pass, n_fail)",
            ).write.mode("overwrite").parquet(os.path.join(cfg.verdicts_path, part))
        finally:
            batch_df.unpersist()

    for path in (cfg.rows_path, cfg.verdicts_path):
        reset_stale_epochs(stream_df.sparkSession, path, cfg.checkpoint_path)
    writer = (
        annotated.writeStream.outputMode("append")
        .option("checkpointLocation", cfg.checkpoint_path)
        .foreachBatch(sink)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
