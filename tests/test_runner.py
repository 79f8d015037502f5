"""Runner: verdict/violation sinks, checkpoint, resume-skips-done,
idempotent bucket overwrite, lineage, crash-resume of the
driver-written sinks."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fences_spark import fsutil
from fences_spark.flagship import files_ruleset
from fences_spark.run import RunConfig, ValidationRunner
from fences_spark.synth import expected_defect_counts, files_table

N = 10_000


@pytest.fixture()
def cfg(tmp_path):
    return RunConfig(
        output_dir=str(tmp_path / "out"),
        run_id="r1",
        snapshot_id="snapA",
        n_buckets=8,
    )


def test_full_run_writes_everything(spark, cfg):
    files = files_table(spark, N)
    runner = ValidationRunner(spark, files_ruleset(), cfg)
    s = runner.run(files)
    exp = expected_defect_counts(N)
    n_bad_rows_content = exp["null_content"] + exp["empty_content"]

    assert s.buckets_processed == 8 and s.buckets_skipped == 0
    assert s.rows_processed == N + exp["dup_keys"]

    viol = spark.read.parquet(cfg.violations_path)
    by_rule = {r["rule_id"]: r["n"] for r in viol.groupBy("rule_id").agg(F.count("*").alias("n")).collect()}
    assert by_rule["content_present"] == n_bad_rows_content
    assert by_rule["lang_enum"] == exp["bad_lang"]

    verdicts = spark.read.parquet(cfg.verdicts_path)
    assert verdicts.select("bucket").distinct().count() == 8
    failed_buckets = verdicts.filter(~F.col("passed")).select("rule_id").distinct().collect()
    assert {r["rule_id"] for r in failed_buckets} == {"content_present", "lang_enum"}

    metrics = spark.read.parquet(cfg.metrics_path)
    assert metrics.count() == 8
    lin = json.loads(metrics.limit(1).collect()[0]["lineage_json"])
    assert lin["snapshot_id"] == "snapA"
    assert set(lin["tiers"].values()) == {"typed"}  # all builtin tier


def test_violations_written_counts_exploded_rows(spark, cfg):
    """A row breaking k rules contributes k to violations_written —
    the counter mirrors the violations SINK (exploded rows), not the
    invalid-ROW count.  Pinned with two rules that the same defective
    rows (null/empty content) both violate."""
    from fences_spark.compiler.ruleset import RuleSet

    files = files_table(spark, N)
    rs = (
        RuleSet()
        .add("content_present", "content", {"type": "string", "minLength": 1})
        .add("content_long", "content", {"type": "string", "minLength": 2})
    )
    s = ValidationRunner(spark, rs, cfg).run(files)
    viol = spark.read.parquet(cfg.violations_path)
    assert s.violations_written == viol.count()
    exp = expected_defect_counts(N)
    n_bad = exp["null_content"] + exp["empty_content"]
    # every bad-content row violates both rules → exploded count is 2×
    # the invalid-row count
    assert s.violations_written == 2 * n_bad


def test_resume_skips_completed(spark, cfg):
    files = files_table(spark, N)
    runner = ValidationRunner(spark, files_ruleset(), cfg)
    s1 = runner.run(files)
    assert s1.buckets_processed == 8
    s2 = ValidationRunner(spark, files_ruleset(), cfg).run(files)
    assert s2.buckets_processed == 0 and s2.buckets_skipped == 8

    # new snapshot id → full re-run
    cfg2 = RunConfig(output_dir=cfg.output_dir, run_id="r1", snapshot_id="snapB", n_buckets=8)
    s3 = ValidationRunner(spark, files_ruleset(), cfg2).run(files)
    assert s3.buckets_processed == 8


def test_partial_then_resume_is_idempotent(spark, cfg):
    files = files_table(spark, N)
    cfg.max_buckets_per_pass = 3
    runner = ValidationRunner(spark, files_ruleset(), cfg)
    s = runner.run(files)
    assert s.passes == 3  # 3+3+2

    # resume after "crash": simulate by deleting checkpoint rows of
    # the last pass? simpler: a fresh run with same cfg skips all
    s2 = ValidationRunner(spark, files_ruleset(), cfg).run(files)
    assert s2.buckets_processed == 0

    # violations must equal a single-pass run (bucket overwrite is
    # idempotent, no duplicates across passes)
    viol = spark.read.parquet(cfg.violations_path)
    exp = expected_defect_counts(N)
    assert viol.filter(F.col("rule_id") == "lang_enum").count() == exp["bad_lang"]


def test_reprocessed_bucket_clears_stale_violations(spark, cfg):
    """A re-processed bucket whose new result has ZERO violations must
    not keep stale violation files (dynamic partition overwrite alone
    would — it only replaces partitions present in the new data)."""
    files = files_table(spark, N)
    ValidationRunner(spark, files_ruleset(), cfg).run(files)
    viol_before = spark.read.parquet(cfg.violations_path).count()
    assert viol_before > 0

    # same run_id, new snapshot → all buckets pending again; validate
    # a defect-free table: every bucket now has zero violations
    cfg2 = RunConfig(output_dir=cfg.output_dir, run_id="r1", snapshot_id="snapC",
                     n_buckets=cfg.n_buckets)
    clean = files_table(spark, N, with_defects=False)
    ValidationRunner(spark, files_ruleset(), cfg2).run(clean)
    try:
        n = spark.read.parquet(cfg.violations_path).count()
    except Exception:
        n = 0  # all bucket partitions cleared → no parquet files at all
    assert n == 0


def test_new_snapshot_rerun_keeps_only_new_verdicts(spark, cfg):
    """verdicts holds the latest verdict per bucket: a fresh run into
    the same output_dir empties it, while metrics keep both runs."""
    ValidationRunner(spark, files_ruleset(), cfg).run(files_table(spark, N))
    cfg2 = RunConfig(output_dir=cfg.output_dir, run_id="r1", snapshot_id="snapB",
                     n_buckets=cfg.n_buckets)
    s = ValidationRunner(spark, files_ruleset(), cfg2).run(
        files_table(spark, N, with_defects=False))
    v = spark.read.parquet(cfg.verdicts_path)
    assert v.columns == ["rows", "rule_id", "n_pass", "n_fail", "passed", "bucket"]
    assert v.count() == cfg.n_buckets * 5 and v.filter(~F.col("passed")).count() == 0
    assert v.filter(F.col("rule_id") == "lang_enum").agg(F.sum("rows")).first()[0] == s.rows_processed
    m = spark.read.parquet(cfg.metrics_path)
    assert sorted(r[0] for r in m.groupBy("snapshot_id").count().collect()) == ["snapA", "snapB"]


def _crash_after(monkeypatch, sink: str, nth: int) -> None:
    """Make the driver-side sink writer raise right after its nth
    file lands in ``sink`` (the file is written, the pass is not
    committed)."""
    real = fsutil.write_parquet_file
    seen = []

    def write(spark, dir_path, name, table):
        out = real(spark, dir_path, name, table)
        if os.path.basename(dir_path) == sink:
            seen.append(name)
            if len(seen) == nth:
                raise RuntimeError(f"crash after {sink} write")
        return out

    monkeypatch.setattr(fsutil, "write_parquet_file", write)


@pytest.mark.parametrize("sink, resume_step", [
    ("verdicts", 3), ("metrics", 3), ("verdicts", 2), ("metrics", 5),
])
def test_crash_after_sink_write_resumes_without_duplicates(spark, cfg, monkeypatch,
                                                           sink, resume_step):
    """A crash after the verdicts or metrics file of the second pass
    (buckets 3-5), before its checkpoint: the resume, with the same or
    another ``max_buckets_per_pass``, leaves one verdicts row per
    (bucket, rule), one metrics row per bucket and one violations row
    per (row, rule), with a one-pass run's counts."""
    files = files_table(spark, N)
    cfg.max_buckets_per_pass = 3
    with monkeypatch.context() as mp:
        _crash_after(mp, sink, 2)
        with pytest.raises(RuntimeError, match="crash after"):
            ValidationRunner(spark, files_ruleset(), cfg).run(files)
    cfg.max_buckets_per_pass = resume_step
    s = ValidationRunner(spark, files_ruleset(), cfg).run(files)
    assert (s.buckets_skipped, s.buckets_processed) == (3, 5)

    v = spark.read.parquet(cfg.verdicts_path)
    assert v.count() == v.select("bucket", "rule_id").distinct().count() == 8 * 5
    m = spark.read.parquet(cfg.metrics_path)
    assert m.count() == m.select("bucket").distinct().count() == 8
    exp = expected_defect_counts(N)
    fails = {r[0]: r[1] for r in v.groupBy("rule_id").agg(F.sum("n_fail")).collect()}
    assert fails["lang_enum"] == exp["bad_lang"]
    assert fails["content_present"] == exp["null_content"] + exp["empty_content"]
    assert m.agg(F.sum("rows")).first()[0] == N + exp["dup_keys"]
    viol = spark.read.parquet(cfg.violations_path)
    key = ["repo", "path", "commit", "content_sha256", "rule_id"]
    assert viol.count() == viol.select(*key).distinct().count()
    by_rule = {r[0]: r[1] for r in viol.groupBy("rule_id").count().collect()}
    assert by_rule["lang_enum"] == exp["bad_lang"]
    assert by_rule["content_present"] == exp["null_content"] + exp["empty_content"]


def test_unreadable_ledger_raises(spark, cfg):
    """Only a missing ledger means "nothing done": a file in
    ``checkpoint/`` that is not parquet makes ``run`` raise instead of
    silently re-running every bucket."""
    files = files_table(spark, 1_000)
    ValidationRunner(spark, files_ruleset(), cfg).run(files)
    with open(os.path.join(cfg.checkpoint_path, "a-note.txt"), "w") as f:
        f.write("not parquet")
    with pytest.raises(pa.ArrowInvalid, match="[Pp]arquet"):
        ValidationRunner(spark, files_ruleset(), cfg).run(files)


def test_run_leaves_the_session_conf_alone(spark, cfg):
    """The runner sets no session conf: a later overwrite by the caller
    (e.g. a ``partitionBy`` corpus write) keeps the caller's mode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        ValidationRunner(spark, files_ruleset(), cfg).run(files_table(spark, 1_000))
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, before)


def test_write_parquet_file_round_trips_through_file_uri(spark, tmp_path):
    """The driver-side writer resolves a ``file://`` URI through the
    Hadoop FS, replaces an existing file of the same name, and leaves
    no ``_tmp-`` file behind."""
    uri = (tmp_path / "t").as_uri()
    fsutil.write_parquet_file(spark, uri, "x.parquet", pa.table({"a": [1, 2]}))
    path = fsutil.write_parquet_file(spark, uri, "x.parquet", pa.table({"a": [3]}))
    assert path.endswith("/t/x.parquet")
    assert pq.read_table(str(tmp_path / "t")).to_pylist() == [{"a": 3}]
    assert [r["a"] for r in spark.read.parquet(uri).collect()] == [3]
    assert not [n for n in os.listdir(tmp_path / "t") if "_tmp-" in n]


def test_bucket_is_content_defined(spark, cfg):
    files = files_table(spark, 2_000)
    r = ValidationRunner(spark, files_ruleset(), cfg)
    a = r._with_bucket(files.repartition(2)).select("repo", "path", "bucket")
    b = r._with_bucket(files.repartition(19)).select("repo", "path", "bucket")
    assert a.exceptAll(b).count() == 0


def test_pointer_diagnostics_violations_sink(spark, cfg):
    """pointer_diagnostics=True: the violations sink gains a
    ``pointers array<struct<pointer,keyword>>`` column locating each
    violation (vocabulary of compiler/pointers.py), at the SAME
    (row, rule) cardinality as the plain sink — a rule contributing
    several pointer entries (empty path fails minLength AND pattern)
    still writes one sink row with a 2-entry array."""
    cfg.pointer_diagnostics = True
    files = files_table(spark, N)
    ValidationRunner(spark, files_ruleset(), cfg).run(files)
    viol = spark.read.parquet(cfg.violations_path)
    assert "pointers" in viol.columns

    exp = expected_defect_counts(N)
    by_rule = {
        r["rule_id"]: r["n"]
        for r in viol.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert by_rule["content_present"] == exp["null_content"] + exp["empty_content"]
    assert by_rule["lang_enum"] == exp["bad_lang"]

    # scalar rules report root-level pointers with the failing keyword
    kws = {
        (r["pointer"], r["keyword"])
        for r in viol.filter(F.col("rule_id") == "lang_enum")
        .select(F.explode("pointers").alias("p"))
        .select("p.pointer", "p.keyword")
        .distinct()
        .collect()
    }
    assert kws == {("#", "enum")}
    # null content → type; empty content → minLength (both root-level)
    kws_c = {
        r["keyword"]
        for r in viol.filter(F.col("rule_id") == "content_present")
        .select(F.explode("pointers").alias("p"))
        .select("p.keyword")
        .distinct()
        .collect()
    }
    assert kws_c == {"type", "minLength"}
    # no (row, rule) sink row carries a NULL pointers array
    assert viol.filter(F.col("pointers").isNull()).count() == 0


def test_run_incremental_pre_first_append_root_noop(spark, tmp_path):
    """Round-5 advice: a table root that exists but has no snapshot log
    yet (first append hasn't happened) is a benign no-op for a scheduled
    poller — returns None; a path full of non-snaplog content still
    raises so a typo can't masquerade as 'caught up'."""
    from fences_spark.run.runner import run_incremental

    empty = tmp_path / "pre_first_append"
    empty.mkdir()
    assert run_incremental(spark, files_ruleset(), str(empty), str(tmp_path / "o1")) is None

    meta_only = tmp_path / "meta_only"
    (meta_only / "metadata").mkdir(parents=True)
    (meta_only / "data").mkdir()
    assert run_incremental(spark, files_ruleset(), str(meta_only), str(tmp_path / "o2")) is None

    bogus = tmp_path / "bogus"
    bogus.mkdir()
    (bogus / "whatever.txt").write_text("not a table")
    with pytest.raises(ValueError, match="not a snapshot-log table"):
        run_incremental(spark, files_ruleset(), str(bogus), str(tmp_path / "o3"))
    with pytest.raises(ValueError, match="not a snapshot-log table"):
        run_incremental(spark, files_ruleset(), str(tmp_path / "missing"), str(tmp_path / "o4"))
