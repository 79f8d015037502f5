"""End-to-end curation pipeline: validate → curate → near-dup dedup →
pack → shuffle-shard → shard-partitioned corpus + report sinks."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fences_spark.run.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant: one invalid row (empty text), one near-dup pair member
    base = docs.select("doc_id", "text")
    extra = spark.createDataFrame(
        [(900001, "")]
        + [(900002, base.filter("doc_id = 7").first()["text"] + " qq")],
        ["doc_id", "text"],
    )
    cfg = PipelineConfig(output_dir=out, n_shards=4)
    summary = run_pipeline(spark, base.unionByName(extra), cfg)
    return spark, out, summary


def test_summary_counts_are_consistent(result):
    _spark, _out, s = result
    assert s["input_docs"] == 502
    assert s["valid_docs"] == 501          # the empty doc failed validation
    assert s["kept_after_curation"] <= s["valid_docs"]
    assert s["kept_after_near_dup"] <= s["kept_after_curation"]
    assert s["sequences"] >= 1 and s["shards"] == 4


def test_sinks_exist_and_agree(result):
    spark, out, s = result
    # ignore Hadoop-FS checksum sidecars (.summary.json.crc)
    assert sorted(n for n in os.listdir(out) if not n.startswith(".")) == [
        "corpus", "curation", "sequences", "summary.json", "verdicts", "violations"]
    assert json.load(open(os.path.join(out, "summary.json"))) == s
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == s["kept_after_near_dup"]
    assert corpus.select("shard").distinct().count() == 4
    # the planted near-verbatim copy of doc 7 is eliminated by
    # curation's dup_spans filter (stage 2) — and so is doc 7 itself:
    # the span filter is SYMMETRIC (Lee-et-al semantics remove every
    # member of a heavily-overlapping group; only exact-dedup keeps a
    # canonical).  The curation report records why for both.
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert 900002 not in ids and 7 not in ids
    cur = spark.read.parquet(os.path.join(out, "curation"))
    for did in (7, 900002):
        assert "dup_spans" in cur.filter(F.col("doc_id") == did).first()["reasons"]
    # violations name the failing rule for the invalid doc
    viol = spark.read.parquet(os.path.join(out, "violations"))
    rows = viol.filter(F.col("doc_id") == 900001).collect()
    assert rows and rows[0]["rule_id"] == "text_present"


def test_shard_order_is_the_training_order(result):
    spark, out, _s = result
    from fences_spark.operators.sampling import shuffle_shards

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    want = {(r["doc_id"], r["shard"], r["rnk"]) for r in shuffle_shards(
        corpus.select("doc_id", "text"), "doc_id", n_shards=4).collect()}
    got = {(r["doc_id"], r["shard"], r["rnk"]) for r in corpus.collect()}
    assert got == want


def test_pointer_diagnostics_violations_sink(spark, tmp_path_factory):
    """PipelineConfig(pointer_diagnostics=True): the violations sink
    carries (doc_id, rule_id, pointer, keyword) — one row per
    violation location — instead of the plain (doc_id, rule_id)."""
    out = str(tmp_path_factory.mktemp("pipeline_ptr"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", "text").limit(50)
    extra = spark.createDataFrame([(900001, ""), (900003, None)], ["doc_id", "text"])
    cfg = PipelineConfig(output_dir=out, n_shards=2, pointer_diagnostics=True)
    run_pipeline(spark, base.unionByName(extra), cfg)
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert sorted(viol.columns) == ["doc_id", "keyword", "pointer", "rule_id"]
    got = {(r["doc_id"], r["rule_id"], r["pointer"], r["keyword"])
           for r in viol.collect()}
    # empty text -> minLength at root; NULL text -> type at root
    assert (900001, "text_present", "#", "minLength") in got
    assert (900003, "text_present", "#", "type") in got
    assert all(d in (900001, 900003) for d, *_ in got)


def test_pointer_diagnostics_keeps_pointerless_rule_rows(spark, tmp_path_factory):
    """Round-5 advice: with pointer_diagnostics=True a failing rule whose
    pointer tier yields ZERO entries (XML mode has no JSON-pointer
    vocabulary) must still contribute its (id, rule_id) sink row — with
    NULL pointer/keyword — matching the runner flag's cardinality
    contract, instead of silently vanishing from the sink."""
    out = str(tmp_path_factory.mktemp("pipeline_ptr0"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", "text").limit(40)
    xsd = (
        '<?xml version="1.0"?>'
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
        '<xs:element name="doc" type="xs:string"/></xs:schema>'
    )
    cfg = PipelineConfig(
        output_dir=out,
        n_shards=2,
        pointer_diagnostics=True,
        rules={
            "text_present": {"type": "string", "minLength": 1},
            # every plain-text doc fails XML parsing -> empty pointers
            "xml_wellformed": {"schema": xsd, "mode": "xml"},
        },
    )
    run_pipeline(spark, base, cfg)
    viol = spark.read.parquet(os.path.join(out, "violations"))
    assert sorted(viol.columns) == ["doc_id", "keyword", "pointer", "rule_id"]
    xml_rows = viol.filter(F.col("rule_id") == "xml_wellformed")
    # one row per failing doc, preserved with NULL pointer/keyword
    assert xml_rows.count() == 40
    assert xml_rows.filter(F.col("pointer").isNotNull()).count() == 0
    # and the (id, rule) pairs equal the non-diagnostic sink's pairs
    cfg2 = PipelineConfig(
        output_dir=str(tmp_path_factory.mktemp("pipeline_ptr0_plain")),
        n_shards=2,
        rules=cfg.rules,
    )
    run_pipeline(spark, base, cfg2)
    plain = spark.read.parquet(os.path.join(cfg2.output_dir, "violations"))
    pairs_diag = {(r["doc_id"], r["rule_id"])
                  for r in viol.select("doc_id", "rule_id").distinct().collect()}
    pairs_plain = {(r["doc_id"], r["rule_id"])
                   for r in plain.select("doc_id", "rule_id").distinct().collect()}
    assert pairs_diag == pairs_plain


def test_stage_checkpoints_kill_resume_byte_identical(spark, tmp_path_factory, monkeypatch):
    """stage_checkpoints=True: kill the pipeline BETWEEN stages (after the
    curation stage committed, before dedup), then resume with the same
    config.  The resumed run must (a) not re-execute the completed
    validate/curate stages — injected bombs in RuleSet.apply and the
    curate operators prove it — and (b) produce a summary.json byte-
    identical to an uninterrupted run's."""
    import fences_spark.compiler.ruleset as ruleset_mod
    import fences_spark.operators.curate as curate_mod
    import fences_spark.operators.dedup as dedup_mod
    from fences_spark.sources import snaplog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    mk = lambda name: str(tmp_path_factory.mktemp(name))

    # reference: one uninterrupted checkpointed run
    ref_out = mk("pipe_ref")
    ref_cfg = PipelineConfig(output_dir=ref_out, n_shards=2, stage_checkpoints=True)
    ref_summary = run_pipeline(spark, docs, ref_cfg)

    # run A: crash between the "kept" and "surviving" stages
    out = mk("pipe_kill")
    cfg = PipelineConfig(output_dir=out, n_shards=2, stage_checkpoints=True)
    real_minhash = dedup_mod.minhash_lsh_pairs

    def bomb(*a, **kw):
        raise RuntimeError("injected kill between stages")

    monkeypatch.setattr(dedup_mod, "minhash_lsh_pairs", bomb)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, docs, cfg)
    monkeypatch.setattr(dedup_mod, "minhash_lsh_pairs", real_minhash)

    # the first two stages are committed, the third is not
    assert snaplog.current_snapshot_id(cfg.stage_root("validated")) is not None
    assert snaplog.current_snapshot_id(cfg.stage_root("kept")) is not None
    assert snaplog.current_snapshot_id(cfg.stage_root("surviving")) is None

    # run B: resume — completed stages must be read, never recomputed
    monkeypatch.setattr(
        ruleset_mod.RuleSet, "apply", bomb
    )
    monkeypatch.setattr(curate_mod, "curate_documents", bomb)
    monkeypatch.setattr(curate_mod, "curate_documents_full", bomb)
    summary = run_pipeline(spark, docs, cfg)

    assert summary == ref_summary
    # byte-identical summary.json funnel counts
    with open(os.path.join(out, "summary.json")) as f_a, \
         open(os.path.join(ref_out, "summary.json")) as f_b:
        assert f_a.read() == f_b.read()
    # resume appended no second snapshot to the completed stages
    for stage in ("validated", "kept"):
        assert len(snaplog.read_log(cfg.stage_root(stage))) == 1


@pytest.mark.parametrize("kill_at,committed", [
    ("curate", ["validated"]),            # die in stage 2 -> only stage 1 committed
    ("pack", ["validated", "kept", "surviving"]),   # die in stage 4 -> all staged
    ("shuffle", ["validated", "kept", "surviving"]),  # die in stage 5
])
def test_stage_checkpoints_kill_matrix(spark, tmp_path_factory, monkeypatch,
                                       kill_at, committed):
    """Kill the checkpointed pipeline at OTHER stage boundaries than the
    dedup one (covered above): mid-curation (nothing past validate
    committed), mid-pack and mid-shuffle (every staged frame already
    committed).  Resume must complete with a summary equal to an
    uninterrupted run's, without appending duplicate snapshots."""
    import fences_spark.operators.curate as curate_mod
    import fences_spark.operators.sampling as sampling_mod
    import fences_spark.operators.text as text_mod
    from fences_spark.sources import snaplog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    ref_out = str(tmp_path_factory.mktemp(f"pipe_km_ref_{kill_at}"))
    ref_summary = run_pipeline(
        spark, docs, PipelineConfig(output_dir=ref_out, n_shards=2,
                                    stage_checkpoints=True)
    )

    out = str(tmp_path_factory.mktemp(f"pipe_km_{kill_at}"))
    cfg = PipelineConfig(output_dir=out, n_shards=2, stage_checkpoints=True)

    def bomb(*a, **kw):
        raise RuntimeError("injected kill")

    target = {
        "curate": (curate_mod, "curate_documents"),
        "pack": (text_mod, "pack_sequences"),
        "shuffle": (sampling_mod, "shuffle_shards"),
    }[kill_at]
    real = getattr(*target)
    monkeypatch.setattr(*target, bomb)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, docs, cfg)
    monkeypatch.setattr(*target, real)

    all_stages = ["validated", "kept", "surviving"]
    for stage in all_stages:
        done = snaplog.current_snapshot_id(cfg.stage_root(stage)) is not None
        assert done == (stage in committed), (kill_at, stage)

    summary = run_pipeline(spark, docs, cfg)
    assert summary == ref_summary
    for stage in all_stages:
        assert len(snaplog.read_log(cfg.stage_root(stage))) == 1, stage


def test_scrub_pii_stage(spark, tmp_path_factory):
    """scrub_pii=True: the packed corpus contains no raw card / IBAN /
    high-entropy key / email, while checksum-failing lookalikes
    survive the scrub untouched."""
    out = str(tmp_path_factory.mktemp("pipeline_scrub"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", "text").limit(30)
    planted = spark.createDataFrame(
        [(910001,
          "contact bob@example.com card 4532015112830366 ref 4532015112830367 "
          "iban DE89370400440532013000 key sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u "
          "b64 Y2kvdG9rZW49WHo4MVFtNDdMcA== "
          "k88 pU3KGCUwux1tEyze1iN7LtkeP3IfyxlxF0SU1kk8nVw0YL4xIB5p/tqg7ui5mX9c"
          "fCmZ/a/lkyU81lSvTfrXFA== "
          "env SOME_LONG_SETTING_NAME=9qEwjky40UVsWmflzdE1F8ResqEDusTpkr0cStY4qWB8dWKn "
          "plus filler words so the curation quality gate keeps this document "
          "around for the packing stage of the test run today")],
        ["doc_id", "text"],
    )
    cfg = PipelineConfig(output_dir=out, n_shards=2, scrub_pii=True)
    run_pipeline(spark, base.unionByName(planted), cfg)

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    row = corpus.filter(F.col("doc_id") == 910001).collect()
    assert len(row) == 1
    text = row[0]["text"]
    assert "bob@example.com" not in text and "<EMAIL>" in text
    assert "4532015112830366" not in text and "<CC>" in text
    assert "DE89370400440532013000" not in text and "<IBAN>" in text
    assert "sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u" not in text and "<KEY>" in text
    assert "b64 <KEY> " in text  # base64 padding redacted with its key
    assert "k88 <KEY> " in text  # runs over 64 chars are scanned too
    assert "env <KEY> " in text
    assert "4532015112830367" in text  # Luhn-failing lookalike preserved
    # the validation/curation sinks saw the ORIGINAL text (scrub is a
    # release gate on the corpus, not a rewrite of upstream evidence)
    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verd.count() > 0
