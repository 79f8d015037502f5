"""Structured Streaming validation path: a parquet file stream of
files rows drained with availableNow must produce exactly the batch
verdicts (per-rule counts) and be incrementally resumable (new files
→ only new rows processed, WAL checkpoint)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from fences_spark.flagship import files_ruleset
from fences_spark.streaming.validate import StreamConfig, start_validation_stream
from fences_spark.synth import files_table


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    out = str(root / "out")
    files_table(spark, 2000).write.mode("overwrite").parquet(src)
    return src, out


def _drain(spark, src, out):
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_validation_stream(
        stream, files_ruleset(), StreamConfig(output_dir=out), trigger_available_now=True
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_matches_batch(spark, stream_dirs):
    src, out = stream_dirs
    _drain(spark, src, out)
    cfg = StreamConfig(output_dir=out)

    rows = spark.read.parquet(cfg.rows_path)
    batch_res = files_ruleset().apply(spark.read.parquet(src))
    n_expected = batch_res.df.count()
    assert rows.count() == n_expected

    # per-rule fail counts identical to the batch run
    stream_fail = {
        r["rule_id"]: r["fails"]
        for r in spark.read.parquet(cfg.verdicts_path)
        .groupBy("rule_id")
        .agg(F.sum("n_fail").alias("fails"))
        .collect()
    }
    for rid in batch_res.rule_ids:
        batch_fails = batch_res.df.filter(~F.col(rid)).count()
        assert stream_fail[rid] == batch_fails, rid

    # sha256 invariant column present and 64-hex
    bad_sha = rows.filter(
        F.col("content").isNotNull() & ~F.col("content_sha256").rlike("^[0-9a-f]{64}$")
    ).count()
    assert bad_sha == 0


def test_stream_incremental_resume(spark, stream_dirs):
    src, out = stream_dirs
    # second drain with no new input: checkpoint means zero new rows
    cfg = StreamConfig(output_dir=out)
    before = spark.read.parquet(cfg.rows_path).count()
    _drain(spark, src, out)
    assert spark.read.parquet(cfg.rows_path).count() == before

    # append a new source file → only its rows are processed
    extra = files_table(spark, 300, with_defects=False).withColumn(
        "repo", F.concat(F.lit("late/"), F.col("repo"))
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out)
    after = spark.read.parquet(cfg.rows_path)
    assert after.count() == before + extra.count()
    assert after.filter(F.col("repo").startswith("late/")).count() == extra.count()


def test_annotate_stream_pointer_diagnostics(spark, stream_dirs):
    """pointer_diagnostics=True on the streaming annotate path: a
    violation_pointers column (NULL on valid rows) whose per-rule
    entries match RuleSet.pointers on the same batch — the streaming
    dual of RunConfig(pointer_diagnostics=True)."""
    from fences_spark.streaming.validate import annotate_stream

    src, out = stream_dirs
    # annotate_stream is a pure projection: drive it on the batch
    # frame (identical plan to the micro-batch case, no state)
    df = spark.read.parquet(src)
    ann = annotate_stream(
        df, files_ruleset(), StreamConfig(output_dir=out), pointer_diagnostics=True
    )
    assert "violation_pointers" in ann.columns
    assert ann.filter(F.col("row_valid") & F.col("violation_pointers").isNotNull()).count() == 0
    got = (
        ann.filter(~F.col("row_valid"))
        .select("repo", "path", F.explode("violation_pointers").alias("v"))
        .select("repo", "path", "v.rule_id", F.explode("v.pointers").alias("p"))
        .select("repo", "path", "rule_id", "p.pointer", "p.keyword")
    )
    want = files_ruleset().pointers(
        files_ruleset().apply(df).df.filter(~F.col("row_valid")), "repo", "path"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_replayed_epoch_does_not_duplicate_sink_rows(spark, tmp_path):
    """Spark re-runs an epoch whose commit was not recorded (a crash
    between the sink write and the commit): deleting the last
    ``commits/<n>`` and draining again must leave both sinks' counts
    unchanged, because each epoch overwrites its own partition."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    files_table(spark, 500).write.parquet(src)
    cfg = StreamConfig(output_dir=out)
    _drain(spark, src, out)
    n_rows = spark.read.parquet(cfg.rows_path).count()
    n_verdicts = spark.read.parquet(cfg.verdicts_path).count()

    commits = os.path.join(cfg.checkpoint_path, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    _drain(spark, src, out)

    assert os.path.isfile(os.path.join(commits, str(last)))  # the epoch re-ran
    assert spark.read.parquet(cfg.rows_path).count() == n_rows == spark.read.parquet(src).count()
    assert spark.read.parquet(cfg.verdicts_path).count() == n_verdicts
    assert len(glob.glob(os.path.join(cfg.rows_path, "epoch_id=*"))) == last + 1
