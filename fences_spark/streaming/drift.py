"""Streaming distribution-drift monitor (north rule, BASELINE.json:6
— drift "against a baseline snapshot", here as the Structured
Streaming dual of operators.drift).

Shape: a watermarked tumbling-window categorical histogram
(`groupBy(window(ts), bucket).count()`, append mode — each window's
counts finalize exactly once when the watermark passes its end), then
``foreachBatch`` scores every finalized window against the STATIC
baseline histogram with
``operators.drift.divergence_stats_distributed`` (PSI / TVD /
Hellinger) and writes one row per window to a WAL-checkpointed
parquet sink, partitioned by epoch id with per-epoch overwrite so a
foreachBatch retry is idempotent.  Append-mode semantics guarantee
all buckets of a window arrive in the same micro-batch (the whole
window's state is emitted at one watermark crossing), so per-window
scoring inside foreachBatch is exact.

Scale notes: the stateful operator keeps one count per (window,
bucket) — state is bounded by bucket cardinality × open windows, not
rows; the divergence join per batch is (windows-in-batch × baseline
buckets), both tiny.  The reference has no streaming (or drift)
analog — SURVEY.md §2.B.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


@dataclass
class DriftStreamConfig:
    output_dir: str

    @property
    def drift_path(self) -> str:
        return os.path.join(self.output_dir, "stream_drift")

    @property
    def drift_checkpoint(self) -> str:
        return os.path.join(self.output_dir, "stream_drift_ckpt")


def reset_stale_epochs(sess, sink_path: str, ckpt_path: str) -> None:
    """Epoch ids are only unique WITHIN one checkpoint lineage.  If the
    checkpoint has no committed batches (fresh or reset), numbering
    restarts at 0 and any existing epoch_id>=0 partition belongs to a
    previous lineage, so per-epoch overwrite alone would leave stale
    duplicate rows.  QUARANTINE them up front — a missing 'commits'
    dir can also mean a misconfigured/relocated/corrupted checkpoint,
    and if the file source has aged out old data a deleted history
    could never be re-finalized; moving the partitions under an
    underscore-prefixed trash dir (invisible to parquet partition
    discovery) keeps the reader contract while making the reset
    reversible by an operator.  A RESUMED checkpoint (commits present)
    keeps its data untouched.  All checks go through the Hadoop FS API
    so remote checkpoint/sink schemes behave like local paths.

    Shared by every per-epoch-partitioned streaming sink (drift,
    schema drift, validation, stateful running stats)."""
    import logging
    import uuid as _uuid

    from fences_spark import fsutil

    if fsutil.exists(sess, os.path.join(ckpt_path, "commits")):
        return
    stale = [
        d
        for d in fsutil.list_dirs(sess, sink_path, "epoch_id=*")
        if not d.rstrip("/").endswith("epoch_id=-1")
    ]
    if not stale:
        return
    trash = os.path.join(sink_path, f"_trash-reset-{_uuid.uuid4().hex[:12]}")
    fsutil.mkdirs(sess, trash)
    for d in stale:
        name = d.rstrip("/").rsplit("/", 1)[-1]
        if not fsutil.rename(sess, d, os.path.join(trash, name)):
            # cross-FS or racing writer: fall back to delete so the
            # lineage invariant still holds
            fsutil.delete(sess, d)
    logging.getLogger(__name__).warning(
        "sink %s had %d epoch partition(s) from a previous checkpoint "
        "lineage (no 'commits' dir at %s); quarantined under %s — delete "
        "that dir once the reset is confirmed intentional",
        sink_path, len(stale), ckpt_path, trash,
    )


def windowed_histogram(
    stream_df: DataFrame,
    *,
    ts_col: str = "ts",
    col: str = "event_type",
    window_len: str = "6 hours",
    delay: str = "30 minutes",
) -> DataFrame:
    """(w_epoch, bucket, cnt) per finalized tumbling window — the
    streaming histogram builder.  w_epoch is the window start in unix
    seconds (epoch-aligned windows), engine-portable unlike rendered
    timestamps."""
    return (
        stream_df.withWatermark(ts_col, delay)
        .groupBy(
            F.window(F.col(ts_col), window_len).alias("w"),
            F.coalesce(F.col(col).cast("string"), F.lit("<null>")).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").cast("long").alias("w_epoch"), "bucket", "cnt")
    )


def start_drift_stream(
    stream_df: DataFrame,
    baseline_hist: DataFrame,
    cfg: DriftStreamConfig,
    *,
    ts_col: str = "ts",
    col: str = "event_type",
    window_len: str = "6 hours",
    delay: str = "30 minutes",
) -> StreamingQuery:
    """Score each finalized window's ``col`` distribution against
    ``baseline_hist`` (a static (bucket, cnt) histogram — e.g. the
    training-corpus snapshot) and append (w_epoch, psi, tvd,
    hellinger, n_current, n_baseline) rows to the sink.  availableNow
    so a replay drains in one epoch; WAL-checkpointed."""
    from fences_spark.operators.drift import divergence_stats_distributed

    base = baseline_hist.select(F.col("bucket").cast("string").alias("bucket"), "cnt")
    hist = windowed_histogram(
        stream_df, ts_col=ts_col, col=col, window_len=window_len, delay=delay
    )

    def score(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        cur = batch.select(
            F.col("w_epoch").cast("string").alias("dim"), "bucket", "cnt"
        )
        wins = batch.select("w_epoch").distinct().select(
            F.col("w_epoch").cast("string").alias("dim")
        )
        rep_base = wins.crossJoin(F.broadcast(base).alias("b")).select("dim", "bucket", "cnt")
        out = divergence_stats_distributed(cur, rep_base).select(
            F.col("dim").cast("long").alias("w_epoch"),
            "psi", "tvd", "hellinger", "n_current", "n_baseline",
        )
        # IDEMPOTENT per-epoch sink: every epoch owns the Hive-style
        # partition directory epoch_id=<n>.  A foreachBatch retry
        # re-runs with the SAME epoch id (checkpointed batch id) and
        # overwrites only its own directory, so a retry after a
        # committed write cannot leave duplicate rows — naive readers
        # need no consumer-side dedup.  epoch_id surfaces to readers
        # as a partition column via directory discovery.
        out.write.mode("overwrite").parquet(
            os.path.join(cfg.drift_path, f"epoch_id={epoch_id}")
        )

    reset_stale_epochs(stream_df.sparkSession, cfg.drift_path, cfg.drift_checkpoint)

    # pre-create the sink with its schema (under the reserved
    # epoch_id=-1 partition so the directory layout stays uniform): a
    # replay whose timestamps span less than window_len + delay
    # finalizes NO window, so score never writes — readers must still
    # find an (empty) sink, not a missing path
    stream_df.sparkSession.createDataFrame(
        [],
        "w_epoch long, psi double, tvd double, hellinger double, "
        "n_current long, n_baseline long",
    ).write.mode("append").parquet(os.path.join(cfg.drift_path, "epoch_id=-1"))

    return (
        hist.writeStream.outputMode("append")
        .option("checkpointLocation", cfg.drift_checkpoint)
        .foreachBatch(score)
        .trigger(availableNow=True)
        .start()
    )
