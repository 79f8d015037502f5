"""End-to-end training-data curation pipeline: the single entry point
that chains the engine's stages the way a production run would —

  1. validate   RuleSet over the corpus (verdicts + exact violations)
  2. curate     composed keep/drop verdict (quality, repetition, dup
                spans, exact dedup; optional blocklist / length band /
                decontamination via the full verdict)
  3. dedup      near-dup clusters (MinHash+LSH → connected
                components), keep cluster canonicals only
  4. pack       document-atomic sequence packing into token budgets
  5. shuffle    deterministic hash-shard training order
  6. write      shard-partitioned parquet + verdict/violation/
                curation report tables

Every stage is one of the repo's oracle-gated operators; this module
adds only the composition and the sinks.  Run via::

    spark-submit --py-files fences_spark.zip fences_spark/run/pipeline.py \
        <input> <output_dir>

or programmatically with :func:`run_pipeline`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from fences_spark import fsutil


@dataclass
class PipelineConfig:
    output_dir: str
    id_col: str = "doc_id"
    text_col: str = "text"
    # rule_id -> JSON-schema dict applied to text_col in typed mode,
    # OR a full spec {"schema": ..., "mode": "typed"|"json"|"xml",
    # "column": ..., "resources": ...} for rules over other columns /
    # dialects (e.g. an XSD rule over an XML column)
    rules: dict = field(default_factory=lambda: {
        "text_present": {"type": "string", "minLength": 1},
    })
    blocked_domains: list[str] | None = None
    # per-stratum quality band: drop documents below this percentile of
    # quality WITHIN their stratum (None disables the stage).  The
    # pipeline owns the session lifecycle, so this stage always runs the
    # one-scan materialized percentile (quality_percentiles_staged) and
    # releases the staged projection once its sink is written.
    quality_min_pct: float | None = None
    strata_col: str | None = None  # None -> one global stratum
    pack_budget: int = 256
    n_shards: int = 8
    # instance-pointer diagnostics on the violations sink (the
    # pipeline analog of RunConfig.pointer_diagnostics): the sink rows
    # become (id, rule_id, pointer, keyword) — one row per violation
    # LOCATION — instead of (id, rule_id).  Cardinality contract
    # matches the runner's flag of the same name: a failing rule whose
    # pointer tier yields zero entries still emits its (id, rule_id)
    # row, with NULL pointer/keyword — a violation never disappears
    # from the sink just because it has no pointer vocabulary.
    pointer_diagnostics: bool = False
    # stage checkpoints: materialize the funnel's intermediate frames
    # (post-validate, post-curation(+quality), post-dedup) as snaplog
    # snapshot tables under <output_dir>/stages/.  A killed run resumes
    # at the last COMMITTED stage instead of restarting from scratch —
    # snaplog's write-data-then-commit-log ordering makes a mid-stage
    # crash leave an invisible orphan, never a half-readable stage.  At
    # 100 TB this also replaces executor-memory persists with
    # parquet-backed reads (column-pruned scans, no cache pressure).
    stage_checkpoints: bool = False
    # PII/secret scrub before packing: replaces text with its scrubbed
    # form (regex PII + Luhn-valid cards + checksum-valid IBANs +
    # high-entropy keys — operators.text.scrub_text); checksum-failing
    # lookalikes are preserved.  A pure narrow projection on the
    # post-dedup survivors — no extra pass or shuffle.
    scrub_pii: bool = False

    def path(self, name: str) -> str:
        return os.path.join(self.output_dir, name)

    def stage_root(self, name: str) -> str:
        return os.path.join(self.output_dir, "stages", name)


def run_pipeline(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig) -> dict:
    """Execute the full curation pipeline; returns a summary dict
    (also written to ``<output_dir>/summary.json``).

    The frames every later stage re-reads (validated docs, curated+
    quality-banded keeps, post-dedup survivors) are either persisted
    for the run and unpersisted on exit (default), or — with
    ``cfg.stage_checkpoints`` — committed as snaplog snapshot tables
    under ``<output_dir>/stages/`` so a killed run resumes at the last
    completed stage and re-reads parquet instead of caching.  Either
    way no stage, and none of the summary counts, re-executes an
    earlier stage's lineage."""
    from pyspark import StorageLevel

    from fences_spark.compiler.ruleset import RuleSet
    from fences_spark.operators.curate import curate_documents, curate_documents_full
    from fences_spark.operators.dedup import connected_components, minhash_lsh_pairs
    from fences_spark.operators.sampling import shuffle_shards
    from fences_spark.operators.text import pack_sequences
    from fences_spark.sources import snaplog

    idc, txc = cfg.id_col, cfg.text_col
    persisted: list[DataFrame] = []

    def _stage_load(name: str) -> DataFrame | None:
        """The stage's committed snapshot table, or None when the stage
        has not completed (or checkpoints are off)."""
        root = cfg.stage_root(name)
        if cfg.stage_checkpoints and snaplog.current_snapshot_id(root) is not None:
            return snaplog.read(spark, root)
        return None

    def _stage_commit(name: str, df: DataFrame) -> DataFrame:
        """Mark the stage complete.  With checkpoints on, commit ``df``
        as the stage's snaplog snapshot — snaplog writes data BEFORE
        the log commit, so a crash mid-write leaves an invisible
        orphan and the stage recomputes on resume; the sinks written
        earlier in the same stage are overwrite-idempotent.  Returns a
        parquet-backed read of the committed table (no cache
        pressure).  With checkpoints off, persist for the run."""
        if cfg.stage_checkpoints:
            root = cfg.stage_root(name)
            snaplog.append(spark, root, df)
            return snaplog.read(spark, root)
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(out)
        return out

    # 1. validate -------------------------------------------------------
    valid = _stage_load("validated")
    if valid is None:
        rs = RuleSet()
        for rule_id, spec in cfg.rules.items():
            if isinstance(spec, dict) and "schema" in spec and (
                "mode" in spec or "column" in spec
            ):
                rs.add(
                    rule_id,
                    spec.get("column", txc),
                    spec["schema"],
                    mode=spec.get("mode", "typed"),
                    resources=spec.get("resources"),
                )
            else:
                rs.add(rule_id, txc, spec)
        res = rs.apply(docs)
        res.verdicts().write.mode("overwrite").parquet(cfg.path("verdicts"))
        if cfg.pointer_diagnostics:
            # cardinality-preserving pointer sink: one element per
            # FAILING rule (pointer_entries_per_rule), then a null-safe
            # outer explode of its pointer array — a rule with zero
            # pointer entries keeps its (id, rule_id) row with NULL
            # pointer/keyword, exactly like the runner's
            # pointer_diagnostics path (RuleSet.pointers' inner explode
            # would drop it entirely)
            failing = res.df.filter(~F.col("row_valid"))
            per_rule = rs.pointer_entries_per_rule(failing)
            viol = (
                failing.select(F.col(idc), F.explode(per_rule).alias("_v"))
                .select(idc, "_v.rule_id", F.explode_outer("_v.pointers").alias("_p"))
                .select(
                    idc,
                    "rule_id",
                    F.col("_p.pointer").alias("pointer"),
                    F.col("_p.keyword").alias("keyword"),
                )
            )
        else:
            viol = res.violations(idc)
        viol.write.mode("overwrite").parquet(cfg.path("violations"))
        valid = _stage_commit(
            "validated", res.df.filter(F.col("row_valid")).select(docs.columns)
        )

    # 2 + 2b. curate, then optional per-stratum quality band — one
    # resumable stage ("kept"): its snapshot is the post-curation,
    # post-band keep set
    kept = _stage_load("kept")
    if kept is None:
        if cfg.blocked_domains:
            verdicts = curate_documents_full(
                valid, idc, txc, blocked_domains=cfg.blocked_domains
            )
        else:
            verdicts = curate_documents(valid, idc, txc)
        verdicts.write.mode("overwrite").parquet(cfg.path("curation"))
        # read the keep set back from the sink just written: the live
        # `verdicts` lineage is the full (expensive) curation DAG, and
        # it would re-execute for every downstream consumer; the
        # parquet read is a 1-column pruned scan instead
        kept_ids = (
            spark.read.parquet(cfg.path("curation"))
            .filter(F.col("keep"))
            .select(F.col("doc_id").alias(idc))
        )
        kept0 = valid.join(kept_ids, idc)
        if cfg.quality_min_pct is not None:
            # one-scan staged percentile: the pipeline owns the cache
            # lifecycle, so the 100 TB setting (materialized narrow
            # projection, VERDICT r3) is the default here — released as
            # soon as the quality sink exists
            from fences_spark.operators.sampling import quality_percentiles_staged

            kept0 = kept0.persist(StorageLevel.MEMORY_AND_DISK)
            strata = cfg.strata_col if cfg.strata_col is not None else F.lit("all")
            pcts, release = quality_percentiles_staged(kept0, idc, txc, strata)
            pcts.write.mode("overwrite").parquet(cfg.path("quality"))
            release()
            band_ids = (
                spark.read.parquet(cfg.path("quality"))
                .filter(F.col("pct") >= cfg.quality_min_pct)
                .select(F.col("doc_id").alias(idc))
            )
            kept = _stage_commit("kept", kept0.join(band_ids, idc))
            kept.count()  # materializes the persisted stage frame...
            kept0.unpersist()  # ...THEN release the parent cache it read from
        else:
            kept = _stage_commit("kept", kept0)
    kept_after_quality = (
        kept.count() if cfg.quality_min_pct is not None else None
    )

    # 3. near-dup dedup (keep cluster canonicals) ------------------------
    surviving = _stage_load("surviving")
    if surviving is None:
        pairs = minhash_lsh_pairs(kept, idc, txc)
        clusters = connected_components(pairs)
        non_canonical = clusters.filter(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias(idc)
        )
        surviving = _stage_commit(
            "surviving", kept.join(non_canonical, idc, "left_anti")
        )

    # 3b. PII/secret scrub (optional) — a projection over the committed
    # survivors, so it composes with stage resume for free
    if cfg.scrub_pii:
        from fences_spark.operators.text import scrub_text

        surviving = scrub_text(surviving, txc)

    # 4. pack -----------------------------------------------------------
    packed = pack_sequences(
        surviving, idc, txc, budget=cfg.pack_budget
    )
    packed.write.mode("overwrite").parquet(cfg.path("sequences"))

    # 5+6. shuffle + shard-partitioned corpus ----------------------------
    order = shuffle_shards(surviving, idc, n_shards=cfg.n_shards)
    (
        surviving.join(order.withColumnRenamed("doc_id", idc), idc)
        .repartition(cfg.n_shards, "shard")
        .sortWithinPartitions("shard", "rnk")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(cfg.path("corpus"))
    )

    # counts come from persisted/stage frames or already-written sinks —
    # nothing below re-executes an upstream stage
    curation = spark.read.parquet(cfg.path("curation"))
    summary = {
        "input_docs": docs.count(),
        "valid_docs": valid.count(),
        "kept_after_curation": curation.filter(F.col("keep")).count(),
        "kept_after_near_dup": surviving.count(),
        "sequences": spark.read.parquet(cfg.path("sequences")).count(),
        "shards": cfg.n_shards,
    }
    if kept_after_quality is not None:
        summary["kept_after_quality_band"] = kept_after_quality
    fsutil.write_file(spark, cfg.output_dir, "summary.json",
                      json.dumps(summary, indent=1, sort_keys=True).encode())
    for df_ in persisted:
        df_.unpersist()
    return summary


def main() -> None:  # pragma: no cover - exercised via spark-submit
    import argparse

    from fences_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="End-to-end curation pipeline (spark-submit entry)"
    )
    ap.add_argument("source", help="input table (parquet dir / snaplog root / catalog id)")
    ap.add_argument("output_dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--pack-budget", type=int, default=256)
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--quality-min-pct", type=float, default=None,
                    help="drop docs below this per-stratum quality percentile")
    ap.add_argument("--strata-col", default=None)
    ap.add_argument("--blocked-domains", default=None,
                    help="comma-separated URL domain blocklist")
    ap.add_argument("--pointer-diagnostics", action="store_true",
                    help="violation sink rows carry instance JSON pointers")
    ap.add_argument("--stage-checkpoints", action="store_true",
                    help="commit each funnel stage as a snaplog snapshot; "
                         "a killed run resumes at the last completed stage")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="scrub email/IP/secret/card/IBAN/key PII from the "
                         "corpus before packing")
    args = ap.parse_args()

    spark = get_spark()
    from fences_spark.sources import read_table

    docs = read_table(spark, args.source)
    cfg = PipelineConfig(
        output_dir=args.output_dir,
        id_col=args.id_col,
        text_col=args.text_col,
        pack_budget=args.pack_budget,
        n_shards=args.n_shards,
        quality_min_pct=args.quality_min_pct,
        strata_col=args.strata_col,
        blocked_domains=(
            args.blocked_domains.split(",") if args.blocked_domains else None
        ),
        pointer_diagnostics=args.pointer_diagnostics,
        stage_checkpoints=args.stage_checkpoints,
        scrub_pii=args.scrub_pii,
    )
    print(json.dumps(run_pipeline(spark, docs, cfg)))


if __name__ == "__main__":
    main()
