"""The driver entry registry: ``ENTRIES`` at the end of this module,
from which queries()/oracle_sql(), bench.py, scripts/explain_plans.py
and the in-suite oracle/plan-shape sweep are all derived.

Each entry pairs a Spark implementation (left) with an ANSI-SQL DuckDB
oracle (right) over the same parquet tables.  Conventions for
hash-exact comparison:

- every computed column is aliased identically on both sides;
- double aggregates go through DECIMAL casts (exact, order-independent)
  and back to DOUBLE, so value hashes match bit-for-bit;
- deterministic ORDER-insensitive outputs (driver sorts before
  hashing), but no LIMIT without a total order.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from fences_spark.operators import round6

from fences_spark.compiler.ruleset import RuleSet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _stream_workdir(kind: str, sf_dir: str) -> str:
    """Deterministic scratch dir for the streaming replay entries,
    WIPED on every call: repeated bench/verify invocations would
    otherwise accumulate an input copy + sink + WAL checkpoint per
    call in /tmp (and the checkpoint must not survive anyway — a
    reused WAL would make the next replay a no-op drain)."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # pid in the name: two concurrent bench/verify processes on the
    # same sf_dir must not wipe each other's live WAL checkpoint
    # (reruns WITHIN a process still reuse + wipe the same dir).
    work = os.path.join(
        tempfile.gettempdir(), f"fences_stream_{kind}_{tag}_{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.makedirs(work)
    except FileExistsError:
        # a non-directory squatting at the path (shared /tmp) survives
        # rmtree(ignore_errors=True); fall back to a fresh private dir
        work = tempfile.mkdtemp(prefix=f"fences_stream_{kind}_{tag}_")
    return work


# ---------------------------------------------------------------------------
# validation queries (the engine's own operators)
# ---------------------------------------------------------------------------

def q_validate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship rule evaluation → global per-rule pass/fail counts.
    Exercises the typed builtin compiler tier (pattern/minLength/
    enum/minimum) — SURVEY.md §2.A."""
    docs = _t(spark, sf_dir, "documents")
    rs = RuleSet()
    rs.add("text_present", "text", {"type": "string", "minLength": 1})
    rs.add("lang_format", "lang", {"type": "string", "pattern": "^[a-z]{2}$"})
    rs.add("nchars_nonneg", "n_chars", {"type": "integer", "minimum": 0})
    res = rs.apply(docs)
    agg = res.df.groupBy().agg(
        *[F.sum(F.col(rid).cast("long")).alias(f"pass_{rid}") for rid in res.rule_ids],
        *[F.sum((~F.col(rid)).cast("long")).alias(f"fail_{rid}") for rid in res.rule_ids],
    )
    return agg


SQL_VALIDATE_DOCUMENTS = """
SELECT
  SUM(CASE WHEN text IS NOT NULL AND length(text) >= 1 THEN 1 ELSE 0 END)::BIGINT AS pass_text_present,
  SUM(CASE WHEN lang IS NOT NULL AND regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END)::BIGINT AS pass_lang_format,
  SUM(CASE WHEN n_chars IS NOT NULL AND n_chars >= 0 THEN 1 ELSE 0 END)::BIGINT AS pass_nchars_nonneg,
  SUM(CASE WHEN text IS NOT NULL AND length(text) >= 1 THEN 0 ELSE 1 END)::BIGINT AS fail_text_present,
  SUM(CASE WHEN lang IS NOT NULL AND regexp_matches(lang, '^[a-z]{2}$') THEN 0 ELSE 1 END)::BIGINT AS fail_lang_format,
  SUM(CASE WHEN n_chars IS NOT NULL AND n_chars >= 0 THEN 0 ELSE 1 END)::BIGINT AS fail_nchars_nonneg
FROM documents
"""


def q_violations_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-cell validation (variant builtin tier) over events.props:
    exact violation rows for a schema requiring a numeric
    non-negative $.value — SURVEY.md §2.B filters/projections."""
    ev = _t(spark, sf_dir, "events")
    rs = RuleSet()
    rs.add(
        "props_wellformed",
        "props",
        {"type": "object"},
        mode="json",
    )
    res = rs.apply(ev)
    return res.df.filter(~F.col("props_wellformed")).select("event_id", "props")


SQL_VIOLATIONS_EVENTS_PROPS = """
SELECT event_id, props
FROM events
WHERE NOT (props IS NOT NULL AND json_valid(props) AND json_type(props::JSON) = 'OBJECT')
"""


_STRICT_TREE = {
    # the draft-2020-12 strict-tree shape: $dynamicRef re-binds the
    # recursion target to the OUTERMOST $dynamicAnchor, so every nested
    # node — not just the root — picks up unevaluatedProperties: false.
    # A plain $ref (or the bookend-less static resolution) would accept
    # the misspelled key at depth; only dynamic-scope resolution
    # rejects it.  Compiles on the Arrow tier by design
    # (evaluator.uses_dynamic_scope routes it there).
    "$id": "https://fences-spark.test/strict-tree",
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


def q_validate_dynamic_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$dynamicRef validation as a driver query (SURVEY.md §2.A, round
    3b): build a deterministic depth-2 JSON tree per document, plant
    two defect classes at the DEEPEST node — a misspelled key
    (doc_id % 7 == 3; only dynamic-scope resolution of the strict-tree
    schema sees it, because unevaluatedProperties lives on the outer
    resource) and a non-array children (doc_id % 11 == 5) — validate
    with the compiled schema, and return the invalid doc_ids.  The
    DuckDB oracle recomputes the planted-defect rule."""
    from fences_spark.compiler.jsonvalue import compile_json

    docs = _t(spark, sf_dir, "documents")
    leaf = F.when(F.col("doc_id") % 7 == 3, F.lit('{"daat": 3}')).otherwise(
        F.lit('{"data": 3}')
    )
    grandkids = F.when(F.col("doc_id") % 11 == 5, F.lit("9")).otherwise(
        F.concat(F.lit("["), leaf, F.lit("]"))
    )
    tree = F.concat(
        F.lit('{"data": 1, "children": [{"data": 2, "children": '),
        grandkids,
        F.lit("}]}"),
    )
    pred, tier = compile_json(_STRICT_TREE, tree)
    assert tier == "arrow_udf", tier  # dynamic scope → Arrow tier
    return (
        docs.select("doc_id", pred.alias("ok"))
        .filter(~F.col("ok"))
        .select("doc_id")
    )


SQL_VALIDATE_DYNAMIC_TREE = """
SELECT doc_id FROM documents WHERE doc_id % 7 = 3 OR doc_id % 11 = 5
"""


def q_json_violation_pointers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-side violation diagnostics (SURVEY.md §2 diagnostics,
    round 4): plant deterministic per-field defects over documents,
    then emit one row per (doc, rule, violation location) via
    RuleSet.pointers — (rule_id, RFC 6901 instance pointer, failing
    keyword), the JSON dual of xsd_violation_paths.  Pointer/keyword
    vocabulary is arbitrated against jsonschema error paths
    (tests/test_pointers.py); path model per the reference's
    JsonPointer (fences/json_schema/json_pointer.py:5-57).  Exercises
    BOTH tiers: `code` compiles on the typed builtin tier (pure
    Column expressions), `payload` on the Arrow JSON tier.  The
    DuckDB oracle recomputes the planted-defect rule per modulus."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    code = (
        F.when(d % 5 == 0, F.lit("X9"))
        .when(d % 3 == 0, F.lit("a"))
        .otherwise(F.lit("ab"))
    )
    size_part = F.when(d % 11 == 0, F.lit("")).otherwise(
        F.when(d % 7 == 0, F.lit(',"size":-3')).otherwise(F.lit(',"size":5'))
    )
    tags_part = F.when(d % 13 == 0, F.lit(',"tags":["toolong"]')).otherwise(
        F.lit(',"tags":["ok"]')
    )
    extra_part = F.when(d % 17 == 0, F.lit(',"zz":1')).otherwise(F.lit(""))
    payload = F.when(d % 19 == 0, F.lit("{bad")).otherwise(
        F.concat(F.lit('{"name":"ok"'), size_part, tags_part, extra_part, F.lit("}"))
    )
    staged = docs.select("doc_id", code.alias("code"), payload.alias("payload"))
    rs = RuleSet()
    rs.add(
        "code_ok", "code",
        {"type": "string", "pattern": "^[a-z]+$", "minLength": 2},
    )
    rs.add(
        "payload_ok", "payload",
        {
            "type": "object",
            "required": ["name", "size"],
            "properties": {
                "name": {"type": "string"},
                "size": {"type": "integer", "minimum": 0},
                "tags": {"type": "array",
                         "items": {"type": "string", "maxLength": 3}},
            },
            "additionalProperties": False,
        },
        mode="json",
    )
    return rs.pointers(staged, "doc_id")


SQL_JSON_VIOLATION_POINTERS = """
SELECT doc_id, 'code_ok' AS rule_id, '#' AS pointer, 'pattern' AS keyword
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id, 'code_ok', '#', 'minLength'
FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
UNION ALL
SELECT doc_id, 'payload_ok', '#', 'json'
FROM documents WHERE doc_id % 19 = 0
UNION ALL
SELECT doc_id, 'payload_ok', '#', 'required'
FROM documents WHERE doc_id % 11 = 0 AND doc_id % 19 <> 0
UNION ALL
SELECT doc_id, 'payload_ok', '#/size', 'minimum'
FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0 AND doc_id % 19 <> 0
UNION ALL
SELECT doc_id, 'payload_ok', '#/tags/0', 'maxLength'
FROM documents WHERE doc_id % 13 = 0 AND doc_id % 19 <> 0
UNION ALL
SELECT doc_id, 'payload_ok', '#', 'additionalProperties'
FROM documents WHERE doc_id % 17 = 0 AND doc_id % 19 <> 0
"""


# ---------------------------------------------------------------------------
# relational operator coverage (SURVEY.md §2.B)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy two keys → 7 aggregates.
    DECIMAL sums for order-independent exactness."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount"))).cast("decimal(28,4)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.max(F.col("l_quantity").cast("double")).alias("max_qty"),
            F.min(F.col("l_extendedprice").cast("double")).alias("min_price"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
  (SUM(CAST(l_quantity AS DECIMAL(18,2))))::DOUBLE AS sum_qty,
  (SUM(CAST(l_extendedprice AS DECIMAL(18,2))))::DOUBLE AS sum_base_price,
  (SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))))::DOUBLE AS sum_disc_price,
  COUNT(*)::BIGINT AS count_order,
  MAX(l_quantity::DOUBLE) AS max_qty,
  MIN(l_extendedprice::DOUBLE) AS min_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join (small dim broadcast explicitly) + agg."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


SQL_JOIN_CUSTOMER_ORDERS = """
SELECT c_mktsegment,
       COUNT(*)::BIGINT AS n_orders,
       (SUM(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_orphan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity: left-anti (NOT EXISTS) orphan check —
    the repo→commit analog over driver tables (SURVEY.md §2.B joins)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


SQL_ORPHAN_ORDERS = """
SELECT COUNT(*)::BIGINT AS n_orphans
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


def q_paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (boilerplate removal —
    operators.dedup.paragraph_dedup): a shared header paragraph is
    planted on doc_id % 3 == 0 and a shared footer on doc_id % 5 == 0,
    so only the first occurrence of each survives; each document's own
    body stays unless it is itself a corpus-level duplicate.  The
    DuckDB oracle recomputes first-occurrence-by-(doc_id, idx)
    semantics exactly."""
    from fences_spark.operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    ptext = F.concat_ws(
        "\n\n",
        F.when(F.col("doc_id") % 3 == 0, F.lit("boilerplate header paragraph")),
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("standard footer paragraph")),
    )
    staged = docs.select("doc_id", ptext.alias("text"))
    return paragraph_dedup(staged, "doc_id", "text")


SQL_PARAGRAPH_DEDUP_DOCS = """
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'boilerplate header paragraph' || chr(10) || chr(10) ELSE '' END
         || text
         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || 'standard footer paragraph' ELSE '' END
         AS ptext
  FROM documents
), p AS (
  SELECT doc_id,
         unnest(list_transform(string_split(ptext, chr(10) || chr(10)), (c, i) -> (i - 1)::INT)) AS idx,
         unnest(string_split(ptext, chr(10) || chr(10))) AS par
  FROM staged
), firsts AS (
  SELECT par, MIN(ROW(doc_id, idx)) AS first FROM p GROUP BY par
), k AS (
  SELECT p.doc_id, p.idx, p.par,
         (ROW(p.doc_id, p.idx) = f.first) AS keep
  FROM p JOIN firsts f ON f.par = p.par
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_pars,
       SUM(keep::INT)::BIGINT AS n_kept,
       COALESCE(STRING_AGG(CASE WHEN keep THEN par END, chr(10) || chr(10) ORDER BY idx), '') AS clean_text
FROM k GROUP BY doc_id
"""


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (SURVEY.md §2.B
    uniqueness; hash-groupBy dedup for training pipelines): groups
    with >1 member, keyed by md5 so both engines agree."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


SQL_DEDUP_EXACT_DOCUMENTS = """
SELECT md5(text) AS text_md5, COUNT(*)::BIGINT AS n_copies, MIN(doc_id)::BIGINT AS keep_doc_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def q_dup_key_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function dedup exemplars: row_number over dup keys,
    keep rank>1 rows (the north-rule (repo,path,commit) pattern on
    lineitem's (l_orderkey, l_partkey) key)."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey", "l_partkey").orderBy("l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("l_orderkey", "l_partkey", "l_linenumber", "rn")
    )


SQL_DUP_KEY_EXEMPLARS = """
SELECT l_orderkey, l_partkey, l_linenumber, rn FROM (
  SELECT l_orderkey, l_partkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber)::BIGINT AS rn
  FROM lineitem
) WHERE rn > 1
"""


def q_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile: null rate, exact distinct, min/max,
    exact median (SURVEY.md §2.B aggregations; the HLL/t-digest
    variants are engine-side, oracle uses exact forms)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_partkey").isNull().cast("long")).alias("null_partkey"),
        F.countDistinct("l_partkey").alias("nd_partkey"),
        F.min(F.col("l_quantity").cast("double")).alias("min_qty"),
        F.max(F.col("l_quantity").cast("double")).alias("max_qty"),
        F.expr("percentile(l_quantity, 0.5)").cast("double").alias("median_qty"),
    )


SQL_STATS_PROFILE = """
SELECT COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_partkey,
       COUNT(DISTINCT l_partkey)::BIGINT AS nd_partkey,
       MIN(l_quantity::DOUBLE) AS min_qty,
       MAX(l_quantity::DOUBLE) AS max_qty,
       quantile_cont(l_quantity, 0.5)::DOUBLE AS median_qty
FROM lineitem
"""


# ---------------------------------------------------------------------------
# operator-backed queries (stats / integrity / drift modules)
# ---------------------------------------------------------------------------

def q_profile_exact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.stats.profile in exact mode (oracle-comparable)."""
    from fences_spark.operators.stats import profile

    orders = _t(spark, sf_dir, "orders")
    return profile(orders, ["o_totalprice"], exact=True)


SQL_PROFILE_EXACT_ORDERS = """
SELECT 'o_totalprice' AS column,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       (SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)) AS null_rate,
       COUNT(DISTINCT o_totalprice)::BIGINT AS n_distinct,
       MIN(o_totalprice)::DOUBLE AS min_value,
       MAX(o_totalprice)::DOUBLE AS max_value,
       quantile_cont(o_totalprice, 0.5)::DOUBLE AS q50,
       quantile_cont(o_totalprice, 0.95)::DOUBLE AS q95,
       quantile_cont(o_totalprice, 0.99)::DOUBLE AS q99
FROM orders
"""


def q_dedup_key_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.integrity.dedup_exact: skew-bounded exact dedup; the
    surviving-row count equals the distinct key count."""
    from fences_spark.operators.integrity import dedup_exact

    li = _t(spark, sf_dir, "lineitem")
    deduped = dedup_exact(li, ["l_orderkey", "l_partkey"])
    return deduped.groupBy().agg(F.count(F.lit(1)).alias("n_unique_keys"))


SQL_DEDUP_KEY_COUNT = """
SELECT COUNT(*)::BIGINT AS n_unique_keys
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
"""


def q_lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.drift.categorical_histogram (drift input)."""
    from fences_spark.operators.drift import categorical_histogram

    docs = _t(spark, sf_dir, "documents")
    return categorical_histogram(docs, "lang")


SQL_LANG_HISTOGRAM = """
SELECT 'lang' AS dim, COALESCE(lang, '<null>') AS bucket, COUNT(*)::BIGINT AS cnt
FROM documents GROUP BY lang
"""


def q_drift_docs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed drift statistics (operators.drift.
    drift_stats_distributed): χ² + KS of the full documents table
    (current) vs the even-doc_id half (baseline), over two dims —
    lang and a 500-char length bucket.  All in Spark: full-outer
    histogram join, window CDFs, decimal-exact χ² sum."""
    from fences_spark.operators.drift import categorical_histogram, drift_stats_distributed

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("len_bucket", F.floor(F.col("n_chars") / 500).cast("string"))
    cur = categorical_histogram(docs, "lang").unionByName(
        categorical_histogram(docs, "len_bucket")
    )
    base_docs = docs.filter(F.col("doc_id") % 2 == 0)
    base = categorical_histogram(base_docs, "lang").unionByName(
        categorical_histogram(base_docs, "len_bucket")
    )
    return drift_stats_distributed(cur, base)


def q_divergence_docs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI / total-variation / Hellinger drift scores
    (operators.drift.divergence_stats_distributed) on the same
    current-vs-even-half histograms as drift_docs_stats — the
    industry-standard PSI alongside the test-statistic pair, fully
    distributed, decimal-exact sums."""
    from fences_spark.operators.drift import (
        categorical_histogram,
        divergence_stats_distributed,
    )

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("len_bucket", F.floor(F.col("n_chars") / 500).cast("string"))
    cur = categorical_histogram(docs, "lang").unionByName(
        categorical_histogram(docs, "len_bucket")
    )
    base_docs = docs.filter(F.col("doc_id") % 2 == 0)
    base = categorical_histogram(base_docs, "lang").unionByName(
        categorical_histogram(base_docs, "len_bucket")
    )
    return divergence_stats_distributed(cur, base)


def q_stream_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor replayed over the static events table
    (streaming/drift.py): watermarked 6-hour tumbling event_type
    histograms finalize in append mode, each finalized window scored
    against the full-table baseline histogram with PSI/TVD/Hellinger
    inside foreachBatch, WAL-checkpointed sink read back as the
    result.  Finalization contract (probed + oracle-pinned): a window
    is emitted iff w_end <= max(ts) - delay.  Windows are
    epoch-aligned; w_epoch (unix seconds) keeps the key
    engine-portable."""
    import os

    from fences_spark.streaming.drift import DriftStreamConfig, start_drift_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    base = ev.groupBy(
        F.coalesce(F.col("event_type"), F.lit("<null>")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    work = _stream_workdir("drift", sf_dir)
    src = os.path.join(work, "src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    cfg = DriftStreamConfig(output_dir=work)
    q = start_drift_stream(
        stream, base, cfg, col="event_type", window_len="6 hours", delay="30 minutes"
    )
    q.awaitTermination()
    # no consumer-side dedup: the sink overwrites its own epoch_id=<n>
    # partition on retry (streaming/drift.py sink contract), so the
    # directory never holds duplicate finalized rows
    return (
        spark.read.parquet(cfg.drift_path)
        .select("w_epoch", "psi", "tvd", "hellinger", "n_current", "n_baseline")
    )


SQL_STREAM_DRIFT_EVENTS = """
WITH base AS (
  SELECT COALESCE(event_type, '<null>') AS bucket, COUNT(*) AS b_cnt FROM events GROUP BY 1
), nb AS (
  SELECT SUM(b_cnt) AS n_b FROM base
), cur AS (
  SELECT (FLOOR(epoch(ts) / 21600) * 21600)::BIGINT AS w_epoch,
         COALESCE(event_type, '<null>') AS bucket, COUNT(*) AS c_cnt
  FROM events GROUP BY 1, 2
), fin AS (
  SELECT * FROM cur
  WHERE w_epoch + 21600 <= (SELECT epoch(MAX(ts)) - 1800 FROM events)
), grid AS (
  SELECT w.w_epoch, base.bucket, base.b_cnt
  FROM (SELECT DISTINCT w_epoch FROM fin) w CROSS JOIN base
), j AS (
  SELECT grid.w_epoch, grid.bucket, grid.b_cnt, COALESCE(fin.c_cnt, 0) AS c_cnt
  FROM grid LEFT JOIN fin ON fin.w_epoch = grid.w_epoch AND fin.bucket = grid.bucket
), t AS (
  SELECT w_epoch,
         c_cnt * 1.0 / SUM(c_cnt) OVER (PARTITION BY w_epoch) AS p_c,
         b_cnt * 1.0 / (SELECT n_b FROM nb) AS p_b,
         SUM(c_cnt) OVER (PARTITION BY w_epoch) AS n_c
  FROM j
)
SELECT w_epoch,
       ROUND(SUM(CAST((GREATEST(p_c, 1e-6) - GREATEST(p_b, 1e-6))
                      * LN(GREATEST(p_c, 1e-6) / GREATEST(p_b, 1e-6))
                      AS DECIMAL(28,18)))::DOUBLE, 6) AS psi,
       ROUND((SUM(CAST(ABS(p_c - p_b) AS DECIMAL(28,18))) / 2)::DOUBLE, 6) AS tvd,
       ROUND(SQRT(GREATEST(0.0, 1.0 - SUM(CAST(SQRT(p_c * p_b) AS DECIMAL(28,18)))::DOUBLE)), 6) AS hellinger,
       MAX(n_c)::BIGINT AS n_current,
       (SELECT n_b FROM nb)::BIGINT AS n_baseline
FROM t GROUP BY w_epoch
"""


SQL_DIVERGENCE_DOCS_STATS = """
WITH d AS (
  SELECT doc_id, COALESCE(lang, '<null>') AS lang,
         COALESCE(CAST((n_chars // 500) AS VARCHAR), '<null>') AS len_bucket
  FROM documents
), cur AS (
  SELECT 'lang' AS dim, lang AS bucket, COUNT(*) AS c_cnt FROM d GROUP BY 2
  UNION ALL
  SELECT 'len_bucket', len_bucket, COUNT(*) FROM d GROUP BY 2
), base AS (
  SELECT 'lang' AS dim, lang AS bucket, COUNT(*) AS b_cnt FROM d WHERE doc_id % 2 = 0 GROUP BY 2
  UNION ALL
  SELECT 'len_bucket', len_bucket, COUNT(*) FROM d WHERE doc_id % 2 = 0 GROUP BY 2
), j AS (
  SELECT COALESCE(cur.dim, base.dim) AS dim,
         COALESCE(cur.bucket, base.bucket) AS bucket,
         COALESCE(c_cnt, 0) AS c_cnt, COALESCE(b_cnt, 0) AS b_cnt
  FROM cur FULL OUTER JOIN base ON cur.dim = base.dim AND cur.bucket = base.bucket
), t AS (
  SELECT dim,
         c_cnt * 1.0 / SUM(c_cnt) OVER (PARTITION BY dim) AS p_c,
         b_cnt * 1.0 / SUM(b_cnt) OVER (PARTITION BY dim) AS p_b,
         SUM(c_cnt) OVER (PARTITION BY dim) AS n_c,
         SUM(b_cnt) OVER (PARTITION BY dim) AS n_b
  FROM j
)
SELECT dim,
       ROUND(SUM(CAST((GREATEST(p_c, 1e-6) - GREATEST(p_b, 1e-6))
                      * LN(GREATEST(p_c, 1e-6) / GREATEST(p_b, 1e-6))
                      AS DECIMAL(28,18)))::DOUBLE, 6) AS psi,
       ROUND((SUM(CAST(ABS(p_c - p_b) AS DECIMAL(28,18))) / 2)::DOUBLE, 6) AS tvd,
       ROUND(SQRT(GREATEST(0.0, 1.0 - SUM(CAST(SQRT(p_c * p_b) AS DECIMAL(28,18)))::DOUBLE)), 6) AS hellinger,
       MAX(n_c)::BIGINT AS n_current,
       MAX(n_b)::BIGINT AS n_baseline
FROM t GROUP BY dim
"""


SQL_DRIFT_DOCS_STATS = """
WITH d AS (
  SELECT doc_id, COALESCE(lang, '<null>') AS lang,
         COALESCE(CAST((n_chars // 500) AS VARCHAR), '<null>') AS len_bucket
  FROM documents
), cur AS (
  SELECT 'lang' AS dim, lang AS bucket, COUNT(*) AS c_cnt FROM d GROUP BY 2
  UNION ALL
  SELECT 'len_bucket', len_bucket, COUNT(*) FROM d GROUP BY 2
), base AS (
  SELECT 'lang' AS dim, lang AS bucket, COUNT(*) AS b_cnt FROM d WHERE doc_id % 2 = 0 GROUP BY 2
  UNION ALL
  SELECT 'len_bucket', len_bucket, COUNT(*) FROM d WHERE doc_id % 2 = 0 GROUP BY 2
), j AS (
  SELECT COALESCE(cur.dim, base.dim) AS dim,
         COALESCE(cur.bucket, base.bucket) AS bucket,
         COALESCE(c_cnt, 0) AS c_cnt, COALESCE(b_cnt, 0) AS b_cnt
  FROM cur FULL OUTER JOIN base ON cur.dim = base.dim AND cur.bucket = base.bucket
), t AS (
  SELECT dim, bucket, c_cnt, b_cnt,
         SUM(c_cnt) OVER (PARTITION BY dim) AS n_c,
         SUM(b_cnt) OVER (PARTITION BY dim) AS n_b,
         SUM(c_cnt) OVER (PARTITION BY dim ORDER BY bucket ROWS UNBOUNDED PRECEDING) * 1.0
           / SUM(c_cnt) OVER (PARTITION BY dim) AS cdf_c,
         SUM(b_cnt) OVER (PARTITION BY dim ORDER BY bucket ROWS UNBOUNDED PRECEDING) * 1.0
           / SUM(b_cnt) OVER (PARTITION BY dim) AS cdf_b
  FROM j
)
SELECT dim,
       ROUND((SUM(CASE WHEN b_cnt > 0
                 THEN CAST((c_cnt - n_c * b_cnt * 1.0 / n_b) * (c_cnt - n_c * b_cnt * 1.0 / n_b)
                          / (n_c * b_cnt * 1.0 / n_b) AS DECIMAL(28,10)) END))::DOUBLE, 6) AS chi2_stat,
       (COUNT(CASE WHEN b_cnt > 0 THEN 1 END) - 1)::INT AS dof,
       SUM(CASE WHEN b_cnt = 0 AND c_cnt > 0 THEN 1 ELSE 0 END)::BIGINT AS n_impossible,
       ROUND(MAX(ABS(cdf_c - cdf_b)), 6) AS ks_stat,
       MAX(n_c)::BIGINT AS n_current,
       MAX(n_b)::BIGINT AS n_baseline
FROM t GROUP BY dim
"""


def q_topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 events per user by value (window + filter — top-k
    without a global sort), deterministic tie-break on event_id."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("user_id", "event_id", F.col("value").cast("double").alias("value"), "rk")
    )


SQL_TOPK_EVENTS_PER_USER = """
SELECT user_id, event_id, value::DOUBLE AS value, rk FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)::BIGINT AS rk
  FROM events
) WHERE rk <= 2
"""


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: customers in BUILDING segment EXCEPT those with
    an open order (exceptAll → oracle diff pattern, SURVEY.md §2.B)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey")).distinct()
    return building.exceptAll(open_orders)


SQL_SET_OPS_CUSTOMERS = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT ALL
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON projection functions over events.props: extract a field,
    aggregate by it (get_json_object path — SURVEY.md §2.B map/JSON)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


SQL_EVENTS_JSON_PROPS = """
SELECT json_extract_string(props, '$.k') AS k,
       COUNT(*)::BIGINT AS n,
       (SUM(CAST(value AS DECIMAL(18,4))))::DOUBLE AS total_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / similarity / text)
# ---------------------------------------------------------------------------

_MINHASH_N, _BAND, _SHK = 12, 3, 3
_MAXBG = 64  # minhash_lsh_pairs/minhash_near_dup_scored max_band_group default


def q_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over documents.  The
    DuckDB oracle computes the identical md5-seeded signatures and
    banding in SQL."""
    from fences_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=_MINHASH_N, band_size=_BAND, shingle_k=_SHK
    )


def _minhash_ctes() -> str:
    """Shared CTE chain ending in ``mh_pairs`` (id_a, id_b) — the
    DuckDB mirror of minhash_lsh_pairs, reused by the pairs oracle and
    the connected-components oracle.  Mirrors the ``max_band_group``
    cap exactly: Spark keeps the ``slice(array_sort(collect_list(
    doc_id)), 1, cap)`` smallest ids per (band_idx, band_hash) bucket,
    which is the QUALIFY row_number ≤ cap below — deterministic, so
    the oracle stays value-exact even on a corpus where one hot
    boilerplate text floods a band bucket (tests/test_fuzz_corpora.py
    ``all_boilerplate``)."""
    n_bands = _MINHASH_N // _BAND
    sig_exprs = ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}:' || x)))" for s in range(_MINHASH_N)
    )
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"sig[{b * _BAND + r + 1}]" for r in range(_BAND)) + ")"
        for b in range(n_bands)
    )
    return f"""toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_SHK}
              THEN list_distinct(list_transform(range(1, len(t) - {_SHK} + 2),
                                 i -> array_to_string(t[i:i+{_SHK - 1}], ' ')))
              WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END AS shingles
  FROM toks
), sig AS (
  SELECT doc_id, [{sig_exprs}] AS sig FROM sh
), bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS band_hash,
         unnest(range(1, {n_bands + 1})) AS band_idx
  FROM sig
), bands_capped AS (
  SELECT band_idx, band_hash, doc_id
  FROM bands
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_hash
                             ORDER BY doc_id) <= {_MAXBG}
), mh_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_capped a JOIN bands_capped b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


def _sql_minhash() -> str:
    return "WITH " + _minhash_ctes() + "\nSELECT id_a, id_b FROM mh_pairs"


def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates refined with the fraction-of-equal-minhashes
    Jaccard estimator (24 hashes) — the verify stage of the dedup
    pipeline, computed from ONE signature pass (banding uses the
    24-hash signature's first 12 entries; ReusedExchange shares the
    aggregate across the banding branch and both join sides)."""
    from fences_spark.operators.dedup import minhash_near_dup_scored

    docs = _t(spark, sf_dir, "documents")
    est = minhash_near_dup_scored(
        docs, "doc_id", "text", n_hashes=2 * _MINHASH_N,
        band_hashes=_MINHASH_N, band_size=_BAND, shingle_k=_SHK)
    return est.select("id_a", "id_b", F.col("jaccard_est").cast("double").alias("jaccard_est"))


def _sql_near_dup_jaccard() -> str:
    n24 = 2 * _MINHASH_N
    sig24 = ", ".join(
        f"list_min(list_transform(shingles, x -> md5('{s}:' || x)))" for s in range(n24)
    )
    return (
        "WITH " + _minhash_ctes() + f""",
sig24 AS (
  SELECT doc_id, [{sig24}] AS s24 FROM sh
)
SELECT p.id_a, p.id_b,
       (len(list_filter(range(1, {n24 + 1}), i -> a.s24[i] = b.s24[i])) / {n24}.0)::DOUBLE AS jaccard_est
FROM mh_pairs p
JOIN sig24 a ON a.doc_id = p.id_a
JOIN sig24 b ON b.doc_id = p.id_b
""")


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → connected components (hash-min label
    propagation) → per-cluster summary.  The oracle computes the same
    components with a recursive CTE (min reachable id)."""
    from fences_spark.operators.dedup import (
        cluster_summary, connected_components, minhash_lsh_pairs)

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=_MINHASH_N, band_size=_BAND, shingle_k=_SHK
    )
    return cluster_summary(connected_components(pairs))


def _sql_near_dup_clusters() -> str:
    return (
        "WITH RECURSIVE " + _minhash_ctes() + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
), components AS (
  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT cluster_id,
       COUNT(*)::BIGINT AS size,
       MIN(node) AS keep_id
FROM components GROUP BY cluster_id
""")


def q_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over colliding pairs, threshold 0.8."""
    from fences_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.8)


SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh
  FROM (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' ')))
                WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END AS shingles
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents)
  )
), ex AS (
  SELECT doc_id, n_sh, unnest(shingles) AS shingle FROM sh
)
SELECT id_a, id_b, ROUND(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
WHERE inter * 1.0 / (na + nb - inter) >= 0.8
"""


def q_text_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + quality + fingerprint per doc (language_id and
    winnowing are covered by pytest; this query keeps the
    SQL-expressible core oracle-checked)."""
    from fences_spark.operators.text import (
        bpeish_token_count,
        doc_fingerprint,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("n_tokens"),
        bpeish_token_count(F.col("text")).alias("n_bpeish"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


SQL_TEXT_PROFILE = """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::INT AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::INT AS n_bpeish,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact duplicate-span stats (Lee-et-al-style
    substring dedup signal at word-5-gram granularity)."""
    from fences_spark.operators.dedup import dup_span_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", k=5)


SQL_DUP_SPAN_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 5
                     THEN list_transform(range(1, len(t) - 3),
                                         i -> array_to_string(t[i:i+4], ' '))
                     WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END) AS gram
  FROM toks
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h FROM grams
), counts AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h
)
SELECT doc_id,
       COUNT(*)::BIGINT AS total_grams,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_grams,
       ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS dup_ratio
FROM hashed JOIN counts USING (h)
GROUP BY doc_id
HAVING SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


def q_winnow_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets per document, folded to a digest so
    the whole array is value-hash gated (k=8 char grams, window=4)."""
    from fences_spark.operators.dedup import ensure_parallelism
    from fences_spark.operators.text import winnow_fingerprints

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    staged = docs.select("doc_id", winnow_fingerprints(F.col("text")).alias("w"))
    return staged.select(
        "doc_id",
        F.size("w").alias("n_fp"),
        F.md5(
            F.concat_ws(",", F.transform(F.col("w"), lambda x: x.cast("string"))).cast(
                "binary"
            )
        ).alias("fp_digest"),
    ).orderBy("doc_id")


SQL_WINNOW_DOCS = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS s FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(s) - 7, 1) + 1),
                        i -> ('0x' || substring(md5(substring(s, i, 8)), 1, 15))::BIGINT) AS h
  FROM n
), mins AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, greatest(len(h) - 3, 1) + 1),
                          i -> list_min(h[i:i+3])))) AS m
  FROM hs
)
SELECT doc_id, len(m)::INT AS n_fp, md5(array_to_string(m, ',')) AS fp_digest
FROM mins ORDER BY doc_id
"""


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: top-2-gram
    character fraction and duplicate-3-gram position fraction."""
    from fences_spark.operators.text import repetition_signals

    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text", top_k=2, dup_k=3)


SQL_REPETITION_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, ks.k,
         unnest(CASE WHEN len(t) >= ks.k
                     THEN list_transform(range(1, len(t) - ks.k + 2),
                                         i -> array_to_string(t[i:i+ks.k-1], ' '))
                     WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END) AS gram
  FROM toks, (VALUES (2), (3)) ks(k)
), cnt AS (
  SELECT doc_id, k, gram, COUNT(*)::BIGINT AS c FROM grams GROUP BY 1, 2, 3
), agg AS (
  SELECT doc_id, k,
         SUM(c)::BIGINT AS total_pos,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup_pos,
         SUM(c * length(gram))::BIGINT AS char_den
  FROM cnt GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram AS top_gram, c AS top_c FROM (
    SELECT doc_id, gram, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
    FROM cnt WHERE k = 2
  ) WHERE rn = 1
)
SELECT a2.doc_id, top_gram,
       ROUND(CASE WHEN a2.char_den > 0
                  THEN (top_c * length(top_gram))::DOUBLE / a2.char_den
                  ELSE 0 END, 6) AS top2gram_char_frac,
       ROUND(CASE WHEN a3.total_pos > 0
                  THEN a3.dup_pos::DOUBLE / a3.total_pos
                  ELSE 0 END, 6) AS dup3gram_frac
FROM (SELECT doc_id, char_den FROM agg WHERE k = 2) a2
JOIN (SELECT doc_id, total_pos, dup_pos FROM agg WHERE k = 3) a3 USING (doc_id)
JOIN top USING (doc_id)
ORDER BY a2.doc_id
"""


def q_token_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 tokens by term frequency with
    document frequency, ties broken by token ascending."""
    from fences_spark.operators.text import corpus_token_topk

    docs = _t(spark, sf_dir, "documents")
    return corpus_token_topk(docs, "doc_id", "text", k=20)


SQL_TOKEN_TOPK_DOCS = """
SELECT token, COUNT(*)::BIGINT AS tf, COUNT(DISTINCT doc_id)::BIGINT AS df
FROM (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
)
GROUP BY token
ORDER BY tf DESC, token
LIMIT 20
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token training chunks (stride 48, back-aligned
    tail) per document."""
    from fences_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48).orderBy(
        "doc_id", "chunk_idx"
    )


SQL_CHUNK_DOCS = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 64
              THEN list_transform(range(1, len(toks) - 62),
                                  i -> array_to_string(toks[i:i+63], ' '))
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END AS g,
         greatest(len(toks) - 63, 1) AS ng
  FROM t
), ch AS (
  SELECT doc_id,
         CASE WHEN (ng - 1) % 48 = 0 THEN regular
              ELSE list_concat(regular, [g[ng]]) END AS chunks
  FROM (SELECT doc_id, g, ng,
               list_filter(g, (x, i) -> (i - 1) % 48 = 0) AS regular
        FROM g)
)
SELECT doc_id,
       unnest(list_transform(chunks, (c, i) -> (i - 1)::INT)) AS chunk_idx,
       unnest(list_transform(chunks,
              c -> (CASE WHEN c = '' THEN 0 ELSE len(string_split(c, ' ')) END)::INT)) AS n_tokens,
       unnest(chunks) AS chunk
FROM ch
ORDER BY doc_id, chunk_idx
"""


def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click event annotated with the user's most
    recent purchase at or before the click (ts + value), NULLs when
    the user never purchased before."""
    from fences_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        prefix="p_",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("p_ts"),
        F.col("p_event_id"),
        round6(F.col("p_value")).alias("p_value"),
    )


SQL_ASOF_CLICK_PURCHASE = """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS p_ts, r.event_id AS p_event_id, ROUND(r.value, 6) AS p_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user activity sessions with a 30-minute
    inactivity gap, via Spark's built-in ``session_window`` (dynamic
    merging session windows — one shuffle on user_id).  Session end =
    last event + gap; an event at EXACTLY prev + gap merges (strict-gap
    split, pinned against the gaps-and-islands oracle)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round6(F.sum("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_SESSIONIZE_EVENTS = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       MIN(ts) AS s_start,
       MAX(ts) + INTERVAL 30 MINUTE AS s_end,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization REPLAYED over the static events table
    — the driver-gated dual of `sessionize_events`, exercising the
    real Structured Streaming path (streaming/curate.session_stream:
    watermark + session_window + append-mode finalization + WAL-
    checkpointed parquet sink) end-to-end, then reading the sink back
    as a batch frame.

    Semantics under one availableNow drain (pinned by probe + tests):
    the final watermark is max(ts) - delay, and a session is emitted
    iff its dynamic end (last event + gap) <= watermark — inclusive
    at the tie.  The DuckDB oracle is the batch gaps-and-islands
    sessionization WITH that finalization filter, so the driver gate
    covers the streaming late-data/finalization contract, not just
    session shapes.

    The input is staged as ONE parquet file so the drain is a single
    micro-batch (no intra-replay late rows); event time is cast
    NTZ->TIMESTAMP under a UTC session timezone (watermarks require
    TIMESTAMP) and the emitted bounds are cast back to NTZ so the
    result is timezone-independent."""
    import os

    from fences_spark.streaming.curate import CurateStreamConfig, start_session_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # deterministic per-input workdir, wiped per invocation: bench and
    # verify re-run entries repeatedly, and a mkdtemp per call would
    # accumulate a full input copy + sink + WAL checkpoint each time
    work = _stream_workdir("sess", sf_dir)
    src = os.path.join(work, "src")
    ev.coalesce(1).write.parquet(src)
    cfg = CurateStreamConfig(output_dir=work)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_session_stream(
        stream, cfg, gap="30 minutes", delay="30 minutes", value_col="value"
    )
    q.awaitTermination()
    out = spark.read.parquet(cfg.sessions_path)
    return out.select(
        "user_id",
        F.col("s_start").cast("timestamp_ntz").alias("s_start"),
        F.col("s_end").cast("timestamp_ntz").alias("s_end"),
        "n_events",
        F.col("total_value").alias("sum_value"),
    )


SQL_STREAM_SESSIONIZE_EVENTS = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       MIN(ts) AS s_start,
       MAX(ts) + INTERVAL 30 MINUTE AS s_end,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL 30 MINUTE
       <= (SELECT MAX(ts) - INTERVAL 30 MINUTE FROM events)
"""


def q_range_view_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: view events landing inside any same-user error
    incident window (error ts ± 30 minutes) — one row per
    (view, incident) pair."""
    from fences_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    return range_join(
        views,
        incidents,
        keys=["user_id"],
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        value_cols=["err_id"],
        # size the grid at the (fixed, 1h) interval length: each
        # interval lands on ≤2 buckets instead of 61 with a 60s grid
        # (measured 7× wall at sf0.1 — see operators/joins.py)
        bucket_seconds=3600,
    )


SQL_RANGE_VIEW_ERROR = """
SELECT v.event_id, v.user_id, v.ts,
       e.ts - INTERVAL 30 MINUTE AS i_w_start,
       e.ts + INTERVAL 30 MINUTE AS i_w_end,
       e.event_id AS i_err_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON v.user_id = e.user_id
 AND v.ts >= e.ts - INTERVAL 30 MINUTE
 AND v.ts <= e.ts + INTERVAL 30 MINUTE
"""


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel view → click → purchase per user
    (greedy earliest-chain semantics, 1-hour completion span)."""
    from fences_spark.operators.joins import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], max_span="1 hour")


SQL_FUNNEL_EVENTS = """
WITH e AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), s1 AS (
  SELECT user_id, min(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(ts) AS t_click
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts >= t_view GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(ts) AS t_purchase
  FROM e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts >= t_click GROUP BY 1
)
SELECT s1.user_id, t_view, t_click, t_purchase,
       (1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT)::INT AS depth,
       COALESCE(COALESCE(t_purchase, t_click, t_view) <= t_view + INTERVAL 1 HOUR,
                FALSE) AS within_span
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
ORDER BY s1.user_id
"""


def q_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events: cohort by first
    active week, count active users per week offset."""
    from fences_spark.operators.joins import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


SQL_RETENTION_EVENTS = """
WITH ev AS (
  SELECT user_id, date_trunc('week', ts)::DATE AS p FROM events
), first AS (
  SELECT user_id, min(p) AS cohort FROM ev GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, p FROM ev
), counts AS (
  SELECT cohort,
         (datediff('day', cohort, p) // 7)::INT AS "offset",
         COUNT(DISTINCT active.user_id)::BIGINT AS n_active
  FROM active JOIN first USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort, COUNT(*)::BIGINT AS cohort_size FROM first GROUP BY 1
)
SELECT cohort, "offset", n_active, cohort_size,
       ROUND(n_active * 1.0 / cohort_size, 6) AS retention
FROM counts JOIN sizes USING (cohort)
ORDER BY cohort, "offset"
"""


def q_tfidf_topterms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smooth TF-IDF top-3 terms per document (corpus-relative
    keyword extraction), ties broken by token ascending."""
    from fences_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


SQL_TFIDF_TOPTERMS_DOCS = """
WITH ex AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*)::BIGINT AS tf FROM ex GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf,
         ROUND(tf * (ln((n_docs + 1) / (df + 1)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf, rank FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token)::BIGINT AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-atomic sequence packing: docs concatenated in id order
    within 64 hash buckets, new sequence every 256 tokens."""
    from fences_spark.operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=256, buckets=64)


SQL_PACK_DOCS = """
WITH base AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''))::BIGINT AS n_tokens,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 64 AS bucket
  FROM documents
), packed AS (
  SELECT bucket, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM base
)
SELECT bucket, seq_idx,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM (SELECT bucket, doc_id, n_tokens,
             CAST(floor(cum / 256) AS BIGINT) AS seq_idx
      FROM packed)
GROUP BY 1, 2
"""


def q_mix_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture quota: the 25 highest-quality documents per
    language stratum (quality desc, doc_id asc tie-break)."""
    from fences_spark.operators.sampling import quality_quota_sample

    docs = _t(spark, sf_dir, "documents")
    return quality_quota_sample(docs, "doc_id", "text", "lang", quota=25)


def _sql_mix_quota_docs() -> str:
    """DuckDB mirror of quality_quota_sample over the lang strata —
    the same 6-dp quality formula as the curate oracle."""
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), feat AS (
  SELECT doc_id, lang, toks,
    ROUND(CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS mtl,
    ROUND(CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text)
               ELSE 0.0 END, 6) AS ar,
    ROUND(CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN ({_SW_EN})))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS sr
  FROM t
), q AS (
  SELECT doc_id, lang AS stratum,
    ROUND((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 0.25 ELSE 0.0 END)
        + least(ar / 0.7::DOUBLE, 1.0::DOUBLE) * 0.25
        + least(sr / 0.2::DOUBLE, 1.0::DOUBLE) * 0.25, 6) AS quality
  FROM feat
)
SELECT doc_id, stratum, quality, rnk FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY stratum
                            ORDER BY quality DESC, doc_id)::BIGINT AS rnk
  FROM q)
WHERE rnk <= 25
"""


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation verdict per document: quality + repetition +
    duplicate-span + exact-dedup filters → (doc_id, keep, reasons)."""
    from fences_spark.operators.curate import curate_documents

    docs = _t(spark, sf_dir, "documents")
    return curate_documents(docs, "doc_id", "text")


def _sql_curate_documents() -> str:
    """DuckDB mirror of curate_documents with default thresholds —
    the full quality-score formula, the Gopher 3-gram repetition
    fraction, the Lee-style 5-gram span fraction, and min-id
    fingerprint canonicalization, composed identically."""
    return f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), feat AS (
  SELECT doc_id, text, toks,
    ROUND(CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS mtl,
    ROUND(CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text)
               ELSE 0.0 END, 6) AS ar,
    ROUND(CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN ({_SW_EN})))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS sr
  FROM t
), q AS (
  SELECT doc_id,
    ROUND((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 0.25 ELSE 0.0 END)
        + least(ar / 0.7::DOUBLE, 1.0::DOUBLE) * 0.25
        + least(sr / 0.2::DOUBLE, 1.0::DOUBLE) * 0.25, 6) AS quality,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM feat
), keepers AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp
), c3 AS (
  SELECT doc_id, gram, COUNT(*)::BIGINT AS c FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(toks[i:i+2], ' '))
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END) AS gram
    FROM t) GROUP BY 1, 2
), rep AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / SUM(c), 6) AS rep3
  FROM c3 GROUP BY 1
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 5
                       THEN list_transform(range(1, len(toks) - 3),
                                           i -> array_to_string(toks[i:i+4], ' '))
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END) AS gram
    FROM t)
), counts AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h
), span AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS span_ratio
  FROM hashed JOIN counts USING (h) GROUP BY doc_id
), j AS (
  SELECT q.doc_id, quality,
         COALESCE(rep3, 0.0) AS rep3,
         COALESCE(span_ratio, 0.0) AS span_ratio,
         (q.doc_id = keep_id) AS is_canonical
  FROM q JOIN keepers USING (fp)
  LEFT JOIN rep ON rep.doc_id = q.doc_id
  LEFT JOIN span ON span.doc_id = q.doc_id
)
SELECT doc_id,
       NOT (quality < 0.8::DOUBLE OR rep3 > 0.1::DOUBLE
            OR span_ratio > 0.5::DOUBLE OR NOT is_canonical) AS keep,
       concat_ws(',',
         CASE WHEN quality < 0.8::DOUBLE THEN 'low_quality' END,
         CASE WHEN rep3 > 0.1::DOUBLE THEN 'repetitive' END,
         CASE WHEN span_ratio > 0.5::DOUBLE THEN 'dup_spans' END,
         CASE WHEN NOT is_canonical THEN 'exact_dup' END) AS reasons
FROM j
ORDER BY doc_id
"""


def q_curate_full_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END composed curation verdict: all eight signals
    (eval holdout, decontamination, domain blocklist, length band,
    quality, repetition, dup spans, exact dedup) in ONE plan, over
    text deterministically enriched with URLs so the blocklist
    signal is live."""
    from fences_spark.operators.curate import curate_documents_full

    return curate_documents_full(
        _enrich_urls(_t(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        blocked_domains=["tracker.net", "spam-site.com"],
    )


def _sql_curate_full() -> str:
    """DuckDB mirror of curate_documents_full over the same enriched
    text: every CTE of the base curate oracle plus the eval split,
    gram-overlap contamination, quantile length band, and domain
    blocklist, composed with identical 6-dp thresholds and reason
    order."""
    return f"""
WITH {_URL_ENRICH_SQL_CTE}, t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM enriched
), feat AS (
  SELECT doc_id, text, toks,
    ROUND(CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS mtl,
    ROUND(CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text)
               ELSE 0.0 END, 6) AS ar,
    ROUND(CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN ({_SW_EN})))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS sr
  FROM t
), q AS (
  SELECT doc_id,
    ROUND((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 0.25 ELSE 0.0 END)
        + least(ar / 0.7::DOUBLE, 1.0::DOUBLE) * 0.25
        + least(sr / 0.2::DOUBLE, 1.0::DOUBLE) * 0.25, 6) AS quality,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM feat
), keepers AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp
), c3 AS (
  SELECT doc_id, gram, COUNT(*)::BIGINT AS c FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(toks[i:i+2], ' '))
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END) AS gram
    FROM t) GROUP BY 1, 2
), rep AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / SUM(c), 6) AS rep3
  FROM c3 GROUP BY 1
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 5
                       THEN list_transform(range(1, len(toks) - 3),
                                           i -> array_to_string(toks[i:i+4], ' '))
                       WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')] ELSE [] END) AS gram
    FROM t)
), counts AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY h
), span AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS span_ratio
  FROM hashed JOIN counts USING (h) GROUP BY doc_id
), split AS (
  SELECT doc_id, substring(md5(doc_id::VARCHAR), 1, 4) < '0ccc' AS is_eval
  FROM enriched
), evh AS (
  SELECT DISTINCT h FROM hashed JOIN split USING (doc_id) WHERE is_eval
), contam AS (
  SELECT hashed.doc_id, COUNT(evh.h) > 0 AS contaminated
  FROM hashed JOIN split USING (doc_id) LEFT JOIN evh ON hashed.h = evh.h
  WHERE NOT is_eval
  GROUP BY hashed.doc_id
), nt AS (
  SELECT doc_id, len(toks)::BIGINT AS n FROM t
), band AS (
  SELECT ROUND(quantile_cont(n, 0.05), 6) AS lo,
         ROUND(quantile_cont(n, 0.95), 6) AS hi
  FROM nt
), blk AS (
  SELECT doc_id,
         len(list_filter(
           list_sort(list_distinct(regexp_extract_all(lower(text), 'https?://([a-z0-9.-]+)', 1))),
           x -> x = 'tracker.net' OR x LIKE '%.tracker.net'
             OR x = 'spam-site.com' OR x LIKE '%.spam-site.com')) > 0 AS blocked
  FROM enriched
), j AS (
  SELECT q.doc_id, quality,
         COALESCE(rep3, 0.0) AS rep3,
         COALESCE(span_ratio, 0.0) AS span_ratio,
         (q.doc_id = keep_id) AS is_canonical,
         is_eval,
         COALESCE(contaminated, FALSE) AS contaminated,
         (n >= lo AND n <= hi) AS in_band,
         blocked
  FROM q JOIN keepers USING (fp)
  LEFT JOIN rep ON rep.doc_id = q.doc_id
  LEFT JOIN span ON span.doc_id = q.doc_id
  JOIN split ON split.doc_id = q.doc_id
  LEFT JOIN contam ON contam.doc_id = q.doc_id
  JOIN nt ON nt.doc_id = q.doc_id
  JOIN blk ON blk.doc_id = q.doc_id
  CROSS JOIN band
)
SELECT doc_id,
       NOT (is_eval OR contaminated OR blocked OR NOT in_band
            OR quality < 0.8::DOUBLE OR rep3 > 0.1::DOUBLE
            OR span_ratio > 0.5::DOUBLE OR NOT is_canonical) AS keep,
       concat_ws(',',
         CASE WHEN is_eval THEN 'eval_holdout' END,
         CASE WHEN contaminated THEN 'contaminated' END,
         CASE WHEN blocked THEN 'blocked_domain' END,
         CASE WHEN NOT in_band THEN 'out_of_band' END,
         CASE WHEN quality < 0.8::DOUBLE THEN 'low_quality' END,
         CASE WHEN rep3 > 0.1::DOUBLE THEN 'repetitive' END,
         CASE WHEN span_ratio > 0.5::DOUBLE THEN 'dup_spans' END,
         CASE WHEN NOT is_canonical THEN 'exact_dup' END) AS reasons
FROM j
ORDER BY doc_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for the first 20 vectors
    (broadcast corpus, zip_with/aggregate dot product)."""
    from fences_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(queries, emb, k=3).select("query_id", "neighbor_id", "cos", "rank")


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-data dedup):
    EXACT mode — the all-pairs recall baseline that the LSH entry
    (q_embedding_near_dup_lsh, the scale default) is measured
    against.  Threshold 0.2 because the synthetic vectors are
    near-orthogonal (a high threshold returns nothing at sf0.01)."""
    from fences_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.2, use_lsh_prefilter=False)


SQL_EMBEDDING_NEAR_DUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM scored
WHERE cos >= 0.2
"""


_NEARDUP_DIM, _NEARDUP_PLANES, _NEARDUP_TABLES = 64, 5, 6


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, LSH-prefiltered — the 100 TB scale
    path (and the function default): candidates come from sign-sketch
    collisions in any of the hash tables, so the plan is an equi-join
    on (table, bucket), never a BroadcastNestedLoopJoin; exact-cosine
    re-rank keeps precision 1.0.  Buckets are md5-derived literals, so
    the DuckDB oracle reproduces the identical candidate set.  Recall
    vs the exact baseline is reported by scripts/recall_report.py."""
    from fences_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.2, dim=_NEARDUP_DIM,
        n_planes=_NEARDUP_PLANES, n_tables=_NEARDUP_TABLES,
    )


def _near_dup_lsh_oracle_sql() -> str:
    """DuckDB mirror of the LSH-prefiltered near-dup: same ±1 plane
    weights (seed "neardup:{table}"), same bucket bits (proj > 0),
    same any-table collision candidates, same cosine + threshold."""
    from fences_spark.operators.similarity import _plane_weight

    def bucket_expr(vcol: str, table: int) -> str:
        bits = []
        for p in range(_NEARDUP_PLANES):
            ws = ", ".join(
                str(int(_plane_weight(p, i, f"neardup:{table}")))
                for i in range(_NEARDUP_DIM)
            )
            bits.append(
                f"(CASE WHEN list_dot_product({vcol}, [{ws}]::DOUBLE[]) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(bits)

    arms = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"({bucket_expr('embedding::DOUBLE[]', t)}) AS bucket FROM embeddings"
        for t in range(_NEARDUP_TABLES)
    )
    return f"""
WITH sk AS ({arms}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sk a JOIN sk b USING (tbl, bucket)
  WHERE a.vec_id < b.vec_id
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT id_a, id_b, cos FROM (
  SELECT c.id_a, c.id_b,
         ROUND(list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos
  FROM cand c JOIN v x ON x.vec_id = c.id_a JOIN v y ON y.vec_id = c.id_b
) WHERE cos >= 0.2
"""


SQL_EMBEDDING_NEAR_DUP_LSH = _near_dup_lsh_oracle_sql()


def q_embedding_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function coverage (SURVEY.md §2.B array fns): per-vector
    dim/min/max/mean/L2 via size/array_min/array_max/aggregate — all
    JVM builtins, no UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    sq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        round6(F.array_min(v)).alias("vmin"),
        round6(F.array_max(v)).alias("vmax"),
        round6(total / F.size(v)).alias("vmean"),
        round6(F.sqrt(sq)).alias("l2norm"),
    )


SQL_EMBEDDING_VECTOR_STATS = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       len(e)::INT AS dim,
       ROUND(list_min(e), 6) AS vmin,
       ROUND(list_max(e), 6) AS vmax,
       ROUND(list_sum(e) / len(e), 6) AS vmean,
       ROUND(sqrt(list_dot_product(e, e)), 6) AS l2norm
FROM v
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document — oracle computes the identical
    signature via list folds in SQL."""
    from fences_spark.operators.dedup import simhash_table

    docs = _t(spark, sf_dir, "documents")
    return simhash_table(docs, "doc_id", "text", bits=32)


SQL_SIMHASH = """
WITH h AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''),
           t -> ('0x' || substring(md5(t), 1, 15))::BIGINT
         ) AS hs
  FROM documents
)
SELECT doc_id,
       list_sum(
         list_transform(range(0, 32),
           b -> CASE WHEN COALESCE(list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1)), 0) > 0
                     THEN (1::BIGINT << b) ELSE 0 END)
       )::BIGINT AS sim
FROM h
"""


def q_rollup_order_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets margins (SURVEY.md §2.B aggregations — the
    ConfusionMatrix row/col-totals analog): rollup over
    (status, priority) with grouping_id."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "gid",
            "n",
            "total",
        )
    )


SQL_ROLLUP_ORDER_MARGINS = """
SELECT COALESCE(o_orderstatus, '<all>') AS status,
       COALESCE(o_orderpriority, '<all>') AS priority,
       GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
       COUNT(*)::BIGINT AS n,
       (SUM(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): three-table join with selective
    filters on both sides — customer segment filter broadcasts into
    the orders join, date predicates push into both scans, top-10 by
    revenue is a bounded-heap TakeOrderedAndProject (no global sort).
    (The sandbox testdata carries o_orderpriority, not the spec's
    o_shippriority — the query shape is Q3's.)"""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1995-03-15")
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > "1995-03-15")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # per-item product rounded to exact cents BEFORE summation:
            # the sum is then decimal-exact (associative), so neither
            # engine's summation order nor rounding rule can diverge —
            # and the top-10 cutoff keyed on revenue stays stable
            # floor(x*100+0.5)/100 == DuckDB ROUND(x,2) on positives
            # (Spark's F.round differs at decimal ties — see round6)
            F.sum(
                (F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100 + 0.5) / 100)
                .cast("decimal(18,2)")
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SQL_Q3_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       (SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 2) AS DECIMAL(18,2))))::DOUBLE AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): counts and totals for
    every grouping-set combination including both margins — the full
    grouping-sets surface beside the rollup entry (the reference's
    ConfusionMatrix prints row AND column totals, core/util.py:94-103;
    cube is that cross-margin table relationally)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # decimal-exact sum: double summation order differs across
            # engines/partitionings (see round6); decimal is associative
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


SQL_CUBE_ORDER_STATS = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       (SUM(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


def q_outliers_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust-outlier gate on order totals (|x − median| >
    3·MAD) — outlier detection immune to the outliers themselves."""
    from fences_spark.operators.stats import robust_outliers

    orders = _t(spark, sf_dir, "orders")
    return robust_outliers(orders, "o_totalprice", k=3.0)


SQL_OUTLIERS_ORDER_PRICE = """
WITH med AS (
  SELECT quantile_cont(o_totalprice::DOUBLE, 0.5) AS median FROM orders
), madt AS (
  SELECT median, quantile_cont(abs(o_totalprice::DOUBLE - median), 0.5) AS mad
  FROM orders, med GROUP BY median
)
SELECT median, mad,
       median - 3.0 * mad AS lo,
       median + 3.0 * mad AS hi,
       COUNT(*)::BIGINT AS n_rows,
       SUM((o_totalprice::DOUBLE < median - 3.0 * mad
            OR o_totalprice::DOUBLE > median + 3.0 * mad)::INT)::BIGINT AS n_outliers,
       ROUND(SUM((o_totalprice::DOUBLE < median - 3.0 * mad
            OR o_totalprice::DOUBLE > median + 3.0 * mad)::INT) * 1.0 / COUNT(*), 6) AS outlier_rate
FROM orders, madt
GROUP BY median, mad
"""


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions (SURVEY.md §2.B): truncate o_orderdate to
    (year, month), count + revenue per month."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


SQL_ORDERS_BY_MONTH = """
SELECT EXTRACT(year FROM o_orderdate)::INT AS y,
       EXTRACT(month FROM o_orderdate)::INT AS m,
       COUNT(*)::BIGINT AS n_orders,
       (SUM(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS revenue
FROM orders GROUP BY 1, 2
"""


def q_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit under a total order (price desc, key asc) —
    SURVEY.md §2.B sorts/limits."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("price"))
    )


SQL_TOP10_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice::DOUBLE AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document (length / punctuation /
    stopword ratios) — training-data text analysis, all JVM Column
    algebra (operators.text.quality_features)."""
    from fences_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["alpha_ratio"].alias("alpha_ratio"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio_en"].alias("stopword_ratio_en"),
    )


_SW_EN = "'the','a','and','of','to','in','is','that','it','for'"

SQL_QUALITY_DOCS = f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       len(toks)::BIGINT AS n_tokens,
       ROUND(CASE WHEN n_chars > 0
                  THEN len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / n_chars
                  ELSE 0.0 END, 6) AS alpha_ratio,
       ROUND(CASE WHEN n_chars > 0
                  THEN len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{{}}]')) * 1.0 / n_chars
                  ELSE 0.0 END, 6) AS punct_ratio,
       ROUND(CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN ({_SW_EN}))) * 1.0 / len(toks)
                  ELSE 0.0 END, 6) AS stopword_ratio_en
FROM t
"""


def q_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID histogram (stopword-hit argmax heuristic,
    operators.text.language_id) over documents."""
    from fences_spark.operators.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(language_id(F.col("text")).alias("lang_id"))
        .groupBy("lang_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SW_SQL = {
    "en": _SW_EN,
    "de": "'der','die','das','und','ist','von','zu','mit','den','nicht'",
    "fr": "'le','la','les','et','de','un','une','est','que','pour'",
    "es": "'el','la','los','las','y','de','un','una','es','que'",
}

SQL_LANGID_DOCS = f"""
WITH s AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), sc AS (
  SELECT len(toks) AS n,
         {", ".join(f"len(list_filter(toks, x -> x IN ({words}))) AS s_{lang}" for lang, words in _SW_SQL.items())}
  FROM s
)
SELECT CASE
         WHEN n = 0 OR greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         ELSE 'es'
       END AS lang_id,
       COUNT(*)::BIGINT AS n_docs
FROM sc GROUP BY 1
"""


def q_validate_files_200k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship files validation at 200k synthesized rows (bench
    entry; deterministic synth — rows-only check, the per-rule counts
    are asserted exactly in pytest against planted-defect formulas)."""
    from fences_spark.flagship import files_ruleset
    from fences_spark.synth import files_table

    files = files_table(spark, 200_000)
    res = files_ruleset().apply(files)
    return (
        res.df.groupBy()
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("row_valid")).cast("long")).alias("rows_invalid"),
        )
    )


_FILES_ORACLE_DERIVE = """
  SELECT doc_id AS file_id,
         CASE WHEN doc_id % 41 = 0 THEN 'bad org ' || doc_id::VARCHAR
              ELSE 'org' || (doc_id % 97)::VARCHAR || '/repo' || (doc_id % 13)::VARCHAR
         END AS repo,
         CASE WHEN doc_id % 43 = 0 THEN ''
              ELSE 'src/f' || doc_id::VARCHAR || '.txt' END AS path,
         CASE WHEN doc_id % 47 = 0 THEN upper(substr(sha256(doc_id::VARCHAR), 1, 40))
              ELSE substr(sha256(doc_id::VARCHAR), 1, 40) END AS commit,
         CASE WHEN doc_id % 53 = 0 THEN 'cobol'
              ELSE (['python','java','c','go','rust','js','other'])[(doc_id % 7)::INT + 1]
         END AS lang,
         CASE WHEN doc_id % 59 = 0 THEN '' ELSE text END AS content
  FROM documents
"""

_FILES_ORACLE_CHECKS = """
  SELECT file_id, content,
         coalesce(regexp_matches(repo, '^[-\\w.]+/[-\\w.]+$'), FALSE) AS repo_format,
         coalesce(length(path) >= 1 AND regexp_matches(path, '^[-\\w./]+$'), FALSE) AS path_nonempty,
         coalesce(regexp_matches(commit, '^[0-9a-f]{40}$'), FALSE) AS commit_sha,
         coalesce(lang IN ('python','java','c','go','rust','js','other'), FALSE) AS lang_enum,
         coalesce(length(content) >= 1, FALSE) AS content_present
  FROM files
"""


def q_files_verdicts_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NORTH-RULE flagship, value-hash gated end-to-end: the
    5-rule column binding over the (repo, path, commit, lang, content)
    files shape (BASELINE.json input_hint), per-BUCKET pass/fail
    verdicts — the runner's partition grain (run/runner.py), here on a
    deterministic bucket key so the oracle can reproduce it.  Input is
    ``files_from_documents`` (pure row functions of the documents
    parquet with planted defects on co-prime moduli), so unlike the
    synthesized ``validate_files_200k`` this entry's COUNTS are
    hash-checked against DuckDB, not just row counts."""
    from fences_spark.flagship import files_from_documents, files_ruleset

    files = files_from_documents(_t(spark, sf_dir, "documents"))
    res = files_ruleset().apply(files)
    return (
        res.df.groupBy(F.pmod(F.col("file_id"), 16).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("row_valid")).cast("long")).alias("rows_invalid"),
            *[
                F.sum((~F.col(rid)).cast("long")).alias(f"fail_{rid}")
                for rid in res.rule_ids
            ],
        )
    )


SQL_FILES_VERDICTS_BUCKETS = f"""
WITH files AS ({_FILES_ORACLE_DERIVE}),
v AS ({_FILES_ORACLE_CHECKS})
SELECT (file_id % 16)::INT AS bucket,
       COUNT(*)::BIGINT AS rows,
       SUM(CASE WHEN repo_format AND path_nonempty AND commit_sha
                 AND lang_enum AND content_present THEN 0 ELSE 1 END)::BIGINT AS rows_invalid,
       SUM(CASE WHEN repo_format THEN 0 ELSE 1 END)::BIGINT AS fail_repo_format,
       SUM(CASE WHEN path_nonempty THEN 0 ELSE 1 END)::BIGINT AS fail_path_nonempty,
       SUM(CASE WHEN commit_sha THEN 0 ELSE 1 END)::BIGINT AS fail_commit_sha,
       SUM(CASE WHEN lang_enum THEN 0 ELSE 1 END)::BIGINT AS fail_lang_enum,
       SUM(CASE WHEN content_present THEN 0 ELSE 1 END)::BIGINT AS fail_content_present
FROM v GROUP BY 1
"""


def q_files_violation_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT violation rows with the per-row content sha256 invariant
    (BASELINE.json: "matching the reference's per-partition pass/fail
    and violation rows", "per-row invariant: content sha256
    equality"): one row per (file, failed rule), digest computed
    JVM-side with the built-in sha2 — hash-gated against DuckDB's
    sha256 over the identically-derived table."""
    from fences_spark.flagship import files_from_documents, files_ruleset

    files = files_from_documents(_t(spark, sf_dir, "documents"))
    res = files_ruleset().apply(files)
    return (
        res.violations("file_id", "content")
        .select(
            "file_id",
            "rule_id",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
        )
    )


SQL_FILES_VIOLATION_ROWS = f"""
WITH files AS ({_FILES_ORACLE_DERIVE}),
v AS ({_FILES_ORACLE_CHECKS})
SELECT file_id, 'repo_format' AS rule_id, sha256(content) AS content_sha256
  FROM v WHERE NOT repo_format
UNION ALL
SELECT file_id, 'path_nonempty', sha256(content) FROM v WHERE NOT path_nonempty
UNION ALL
SELECT file_id, 'commit_sha', sha256(content) FROM v WHERE NOT commit_sha
UNION ALL
SELECT file_id, 'lang_enum', sha256(content) FROM v WHERE NOT lang_enum
UNION ALL
SELECT file_id, 'content_present', sha256(content) FROM v WHERE NOT content_present
"""


def q_stream_files_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NORTH-RULE flagship through the STREAMING engine: the
    derived files table replays through ``start_validation_stream``
    (readStream → narrow verdict projection → foreachBatch sink that
    appends annotated rows AND per-(bucket, rule) verdict counts under
    a WAL checkpoint — streaming/validate.py), then the verdict sink
    is read back as the result.  One availableNow drain = one epoch;
    buckets are file_id % 8 (pre-bucketed — xxhash64 would not be
    oracle-reproducible), so the DuckDB oracle re-derives the exact
    stacked counts and the driver hash-gates the streaming sink
    contract, not just row counts."""
    import os

    from fences_spark.flagship import files_from_documents, files_ruleset
    from fences_spark.streaming.validate import StreamConfig, start_validation_stream

    files = files_from_documents(_t(spark, sf_dir, "documents")).withColumn(
        "bucket", F.pmod(F.col("file_id"), 8).cast("int")
    )
    work = _stream_workdir("files", sf_dir)
    src = os.path.join(work, "src")
    files.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    cfg = StreamConfig(output_dir=work)
    q = start_validation_stream(stream, files_ruleset(), cfg)
    q.awaitTermination()
    return (
        spark.read.parquet(cfg.verdicts_path)
        .select("bucket", "rows", "rows_invalid", "rule_id", "n_pass", "n_fail")
    )


SQL_STREAM_FILES_VERDICTS = f"""
WITH files AS ({_FILES_ORACLE_DERIVE}),
v AS ({_FILES_ORACLE_CHECKS}),
b AS (
  SELECT (file_id % 8)::INT AS bucket,
         COUNT(*)::BIGINT AS rows,
         SUM(CASE WHEN repo_format AND path_nonempty AND commit_sha
                   AND lang_enum AND content_present THEN 0 ELSE 1 END)::BIGINT AS rows_invalid,
         SUM(repo_format::INT)::BIGINT AS p1, SUM(path_nonempty::INT)::BIGINT AS p2,
         SUM(commit_sha::INT)::BIGINT AS p3, SUM(lang_enum::INT)::BIGINT AS p4,
         SUM(content_present::INT)::BIGINT AS p5
  FROM v GROUP BY 1
)
SELECT bucket, rows, rows_invalid, 'repo_format' AS rule_id,
       p1 AS n_pass, rows - p1 AS n_fail FROM b
UNION ALL SELECT bucket, rows, rows_invalid, 'path_nonempty', p2, rows - p2 FROM b
UNION ALL SELECT bucket, rows, rows_invalid, 'commit_sha', p3, rows - p3 FROM b
UNION ALL SELECT bucket, rows, rows_invalid, 'lang_enum', p4, rows - p4 FROM b
UNION ALL SELECT bucket, rows, rows_invalid, 'content_present', p5, rows - p5 FROM b
"""


def q_generate_confusion_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline workflow distributed: fences-style
    boundary-sample GENERATION over a table of schemas (one schema per
    row, partitioned across executors), each sample scored by our
    evaluator against the external jsonschema oracle, confusion counts
    merged partial+final (reference ConfusionMatrix core/util.py:114-137;
    suite loop test_json_schema_test_suite.py:120-133).  A diagonal
    matrix (fp = fn = 0 on every row) is the same exactness statement
    the pytest gate makes — here it is a cluster job.  Rows-only entry:
    the generator is Python, not SQL-expressible; exact counts are
    pinned in tests/test_generate.py.  DIALECT_ONLY fixtures are
    excluded, mirroring the reference's own keyword blacklist
    (test_json_schema_test_suite.py:104-118)."""
    from fences_spark.fixtures import DIALECT_ONLY, ORACLE_SPECS
    from fences_spark.schema.distributed import confusion_over

    rows = [
        (i, name, json.dumps(ORACLE_SPECS[name]))
        for i, name in enumerate(sorted(set(ORACLE_SPECS) - DIALECT_ONLY))
    ]
    schemas = spark.createDataFrame(
        rows, "schema_id long, name string, schema_json string"
    )
    conf = confusion_over(schemas)
    return (
        conf.join(schemas.select("schema_id", "name"), "schema_id")
        .select("schema_id", "name", "n_samples", "tp", "tn", "fp", "fn")
    )


def q_generate_cover_fixtures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same distributed confusion workflow, but samples come from the
    reference's headline SET-COVER path generation (fences
    core/node.py:220-264, rebuilt in schema/pathcover.py): a decision
    graph per schema, distance-labeled greedy paths until every fence
    leaf is covered, one fence crossed per sample.  Emits per-schema
    confusion counts vs the external jsonschema oracle — diagonal
    (fp = fn = 0) rows are the minimal-covering-set exactness claim.
    Rows-only entry: the generator is Python, not SQL-expressible;
    coverage/label guarantees pinned in tests/test_pathcover.py."""
    from fences_spark.fixtures import DIALECT_ONLY, ORACLE_SPECS
    from fences_spark.schema.distributed import confusion_over

    rows = [
        (i, name, json.dumps(ORACLE_SPECS[name]))
        for i, name in enumerate(sorted(set(ORACLE_SPECS) - DIALECT_ONLY))
    ]
    schemas = spark.createDataFrame(
        rows, "schema_id long, name string, schema_json string"
    )
    conf = confusion_over(schemas, method="cover")
    return (
        conf.join(schemas.select("schema_id", "name"), "schema_id")
        .select("schema_id", "name", "n_samples", "tp", "tn", "fp", "fn")
    )


# ---------------------------------------------------------------------------
# grammar dialect (SURVEY.md §2.E) — validator dual of the reference's
# EBNF combinators (fences/grammar/types.py:5-98, convert.py:46-142)
# ---------------------------------------------------------------------------

def _priority_grammar():
    from fences_spark.schema.grammar import CharacterRange, CompiledGrammar, Terminal
    g = {
        "start": CharacterRange("1", "5") + Terminal("-") + (
            Terminal("URGENT") | Terminal("HIGH") | Terminal("MEDIUM")
            | Terminal("NOT SPECIFIED") | Terminal("LOW")),
    }
    return CompiledGrammar(g, "start")


def q_grammar_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acyclic grammar → single Java regex (`rlike`, pure JVM tier):
    validate o_orderpriority's `digit-WORD` language and count by
    verdict.  Whole-stage codegen; no Python."""
    cg = _priority_grammar()
    orders = _t(spark, sf_dir, "orders")
    plain = orders.select(F.col("o_orderpriority").alias("s"))
    broken = orders.select(F.concat(F.col("o_orderpriority"), F.lit("X")).alias("s"))
    return (
        plain.unionByName(broken)
        .select(cg.column(F.col("s")).alias("ok"))
        .groupBy("ok").agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_grammar_priority() -> str:
    cg = _priority_grammar()
    return f"""
    WITH v AS (SELECT o_orderpriority AS s FROM orders
               UNION ALL SELECT o_orderpriority || 'X' FROM orders)
    SELECT CASE WHEN s IS NULL THEN FALSE
                ELSE {cg.sql_full_match('s')} END AS ok,
           COUNT(*)::BIGINT AS n
    FROM v GROUP BY 1
    """


def _number_grammar():
    """RFC 8259 number grammar, written recursively (digits → digit
    digits) so the Earley/Arrow tier is exercised even though the
    language is regular."""
    from fences_spark.schema.grammar import (
        CharacterRange, CompiledGrammar, NonTerminal, Terminal)
    (number, integer, fraction, exponent, digits, digit, one_nine,
     sign) = (NonTerminal(n) for n in (
        "number", "integer", "fraction", "exponent", "digits", "digit",
        "one_nine", "sign"))
    g = {
        number: [integer + fraction + exponent],
        integer: [digit, one_nine + digits, Terminal("-") + digit,
                  Terminal("-") + one_nine + digits],
        digits: [digit, digit + digits],
        digit: [Terminal("0"), one_nine],
        one_nine: [CharacterRange("1", "9")],
        fraction: [Terminal(""), Terminal(".") + digits],
        exponent: [Terminal(""), Terminal("E") + sign + digits,
                   Terminal("e") + sign + digits],
        sign: [Terminal(""), Terminal("+"), Terminal("-")],
    }
    return CompiledGrammar(g, number)


# DuckDB oracle for the same language, hand-written independently
_NUMBER_RX = r"-?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)?"


def q_grammar_number_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive grammar → Earley recognizer in an Arrow-vectorized
    pandas UDF (the sanctioned non-JVM tier): per-variant verdict
    counts over strings derived from documents.n_chars — one valid
    shape and two boundary-invalid mutations."""
    cg = _number_grammar()
    assert cg.is_recursive
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(F.col("n_chars").cast("string").alias("s"))
    variants = (
        base.select(F.lit("plain").alias("variant"), F.col("s"))
        .unionByName(base.select(F.lit("leading_dot").alias("variant"),
                                 F.concat(F.lit("."), F.col("s")).alias("s")))
        .unionByName(base.select(F.lit("trailing_exp").alias("variant"),
                                 F.concat(F.col("s"), F.lit("e")).alias("s")))
    )
    return (
        variants.select("variant", cg.column(F.col("s")).alias("ok"))
        .groupBy("variant")
        .agg(F.sum(F.col("ok").cast("long")).alias("n_valid"),
             F.count(F.lit(1)).alias("n_total"))
    )


SQL_GRAMMAR_NUMBER_DOCS = f"""
WITH base AS (SELECT n_chars::VARCHAR AS s FROM documents),
variants AS (
  SELECT 'plain' AS variant, s FROM base
  UNION ALL SELECT 'leading_dot', '.' || s FROM base
  UNION ALL SELECT 'trailing_exp', s || 'e' FROM base
)
SELECT variant,
       SUM(CASE WHEN regexp_matches(s, '\\A(?:{_NUMBER_RX})\\z') THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       COUNT(*)::BIGINT AS n_total
FROM variants GROUP BY variant
"""


# ---------------------------------------------------------------------------
# OpenAPI dialect (SURVEY.md §2.E) — validator dual of the reference's
# request generator (fences/open_api/generate.py:198-225)
# ---------------------------------------------------------------------------

_OPENAPI_SPEC = {
    "info": {"title": "orders", "version": "1"},
    "components": {"schemas": {
        "Priority": {"type": "string", "enum": [
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]},
        "NewOrder": {"type": "object", "required": ["custkey", "total"],
                     "properties": {"custkey": {"type": "integer", "minimum": 1},
                                    "total": {"type": "number",
                                              "exclusiveMinimum": 0}}},
        "OrderOut": {"type": "object", "required": ["id", "total"],
                     "properties": {"id": {"type": "integer", "minimum": 1},
                                    "total": {"type": "number",
                                              "exclusiveMinimum": 0},
                                    "priority": {"$ref": "#/components/schemas/Priority"}}},
    }},
    "paths": {
        "/orders/{id}": {"get": {
            "operationId": "getOrder",
            "parameters": [
                {"name": "id", "in": "path",
                 "schema": {"type": "integer", "minimum": 1}},
                {"name": "priority", "in": "query", "required": False,
                 "schema": {"$ref": "#/components/schemas/Priority"}},
                {"name": "limit", "in": "query", "required": True,
                 "schema": {"type": "integer", "minimum": 1, "maximum": 100}},
                {"name": "tags", "in": "query", "required": False,
                 "style": "pipeDelimited",
                 "schema": {"type": "array", "minItems": 1, "maxItems": 3,
                            "items": {"type": "string",
                                      "enum": ["new", "sale", "bulk"]}}},
                {"name": "regions", "in": "query", "required": False,
                 "style": "spaceDelimited",
                 "schema": {"type": "array", "maxItems": 2,
                            "items": {"type": "integer",
                                      "minimum": 0, "maximum": 4}}},
                {"name": "filter", "in": "query", "required": False,
                 "style": "deepObject", "explode": True,
                 "schema": {"type": "object", "required": ["status"],
                            "properties": {
                                "status": {"type": "string",
                                           "enum": ["open", "closed"]},
                                "min_total": {"type": "number",
                                              "minimum": 0}}}},
            ],
            "responses": {
                "200": {"description": "ok", "content": {"application/json": {
                    "schema": {"$ref": "#/components/schemas/OrderOut"}}}},
                "4XX": {"description": "client error"}}}},
        "/orders": {"post": {
            "operationId": "createOrder",
            "requestBody": {"required": True, "content": {"application/json": {
                "schema": {"$ref": "#/components/schemas/NewOrder"}}}},
            "responses": {"201": {"description": "created"}}}},
    },
}


def q_openapi_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a request log from orders (GET with path+query
    params) and customer (POST with JSON body), validate against the
    OpenAPI spec, return per-operation verdict counts.  Routing and
    every parameter/body check are one projection pass — no shuffle
    until the final verdict groupBy."""
    from fences_spark.schema.open_api import OpenApiValidator
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    # styled query params (round-5): pipeDelimited tags — k%3==2 has 4
    # items (maxItems 3) → invalid; spaceDelimited regions — k%4==2
    # holds 9 (maximum 4), k%4==3 has 3 items (maxItems 2) → invalid;
    # deepObject filter — k%5==2 bad enum, k%5==3 required `status`
    # key missing while `min_total` present → invalid, k%5==4 wholly
    # absent → valid (parameter not required)
    tags = (
        F.when(k % 3 == 0, F.lit("new|sale"))
        .when(k % 3 == 1, F.lit("bulk"))
        .otherwise(F.lit("new|sale|bulk|new"))
    )
    regions = (
        F.when(k % 4 == 0, F.lit("0 3"))
        .when(k % 4 == 1, F.lit("2"))
        .when(k % 4 == 2, F.lit("1 9"))
        .otherwise(F.lit("0 1 2"))
    )
    f_status = (
        F.when(k % 5 == 0, F.lit("open"))
        .when(k % 5 == 1, F.lit("closed"))
        .when(k % 5 == 2, F.lit("paused"))
        .otherwise(F.lit(None).cast("string"))
    )
    f_min_total = (
        F.when(k % 5 == 0, F.lit("10.5"))
        .when(k % 5 == 3, F.lit("7"))
        .otherwise(F.lit(None).cast("string"))
    )
    gets = orders.select(
        F.lit("GET").alias("method"),
        F.concat(F.lit("/orders/"), k.cast("string")).alias("path"),
        F.map_filter(
            F.create_map(
                F.lit("limit"), (k % 150).cast("string"),
                F.lit("priority"), F.col("o_orderpriority"),
                F.lit("tags"), tags,
                F.lit("regions"), regions,
                F.lit("filter[status]"), f_status,
                F.lit("filter[min_total]"), f_min_total,
            ),
            lambda _, v: v.isNotNull(),
        ).alias("query"),
        F.lit(None).cast("string").alias("body"),
    )
    posts = customer.select(
        F.lit("POST").alias("method"),
        F.lit("/orders").alias("path"),
        F.create_map().cast("map<string,string>").alias("query"),
        F.concat(F.lit('{"custkey": '), F.col("c_custkey").cast("string"),
                 F.lit(', "total": '), F.col("c_acctbal").cast("string"),
                 F.lit("}")).alias("body"),
    )
    v = OpenApiValidator(_OPENAPI_SPEC)
    out = v.validate(gets.unionByName(posts))
    return v.verdicts(out)


SQL_OPENAPI_REQUESTS = """
SELECT 'getOrder' AS operation_id,
       SUM(CASE WHEN (o_orderkey % 150) BETWEEN 1 AND 100
                 AND (o_orderkey % 3) IN (0, 1)
                 AND (o_orderkey % 4) IN (0, 1)
                 AND (o_orderkey % 5) IN (0, 1, 4)
            THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       SUM(CASE WHEN (o_orderkey % 150) BETWEEN 1 AND 100
                 AND (o_orderkey % 3) IN (0, 1)
                 AND (o_orderkey % 4) IN (0, 1)
                 AND (o_orderkey % 5) IN (0, 1, 4)
            THEN 0 ELSE 1 END)::BIGINT AS n_invalid
FROM orders
UNION ALL
SELECT 'createOrder',
       SUM(CASE WHEN c_custkey >= 1 AND c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT,
       SUM(CASE WHEN c_custkey >= 1 AND c_acctbal > 0 THEN 0 ELSE 1 END)::BIGINT
FROM customer
"""


def q_openapi_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a response log (getOrder: 200-with-JSON-body / 404 /
    undeclared 500; createOrder: 201 / undeclared 409), validate
    against the spec's per-operation responses section, return
    per-operation verdict counts.  Status resolution (exact → NXX →
    default) and every body predicate are one projection pass."""
    from fences_spark.schema.open_api import OpenApiValidator

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    get_resps = orders.select(
        F.lit("GET").alias("method"),
        F.concat(F.lit("/orders/"), k.cast("string")).alias("path"),
        F.when(k % 7 == 0, F.lit(500))
         .when(k % 7 == 1, F.lit(404))
         .otherwise(F.lit(200)).alias("status"),
        F.when(
            (k % 7 != 0) & (k % 7 != 1),
            F.concat(
                F.lit('{"id": '),
                F.when(k % 5 == 0, F.lit("0")).otherwise(k.cast("string")),
                F.lit(', "total": '), F.col("o_totalprice").cast("string"),
                F.lit(', "priority": "'), F.col("o_orderpriority"), F.lit('"}'),
            ),
        ).alias("body"),
    )
    post_resps = customer.select(
        F.lit("POST").alias("method"),
        F.lit("/orders").alias("path"),
        F.when(F.col("c_custkey") % 4 != 0, F.lit(201))
         .otherwise(F.lit(409)).alias("status"),
        F.lit(None).cast("string").alias("body"),
    )
    v = OpenApiValidator(_OPENAPI_SPEC)
    out = v.validate_responses(get_resps.unionByName(post_resps))
    return v.verdicts(out)


SQL_OPENAPI_RESPONSES = """
SELECT 'getOrder' AS operation_id,
       SUM(CASE WHEN o_orderkey % 7 = 0 THEN 0
                WHEN o_orderkey % 7 = 1 THEN 1
                WHEN o_orderkey % 5 = 0 THEN 0
                ELSE 1 END)::BIGINT AS n_valid,
       SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1
                WHEN o_orderkey % 7 = 1 THEN 0
                WHEN o_orderkey % 5 = 0 THEN 1
                ELSE 0 END)::BIGINT AS n_invalid
FROM orders
UNION ALL
SELECT 'createOrder',
       SUM(CASE WHEN c_custkey % 4 != 0 THEN 1 ELSE 0 END)::BIGINT,
       SUM(CASE WHEN c_custkey % 4 != 0 THEN 0 ELSE 1 END)::BIGINT
FROM customer
"""


# ---------------------------------------------------------------------------
# XSD dialect (SURVEY.md §2.E) — XML cells validated through the
# reference's XSD subset (fences/xml_schema/parse.py:12-28)
# ---------------------------------------------------------------------------

_ORDER_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="order">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="priority">
          <xs:simpleType>
            <xs:restriction base="xs:string">
              <xs:pattern value="[1-5]-[A-Z ]+"/>
            </xs:restriction>
          </xs:simpleType>
        </xs:element>
        <xs:element name="total">
          <xs:simpleType>
            <xs:restriction base="xs:double">
              <xs:minExclusive value="0"/>
            </xs:restriction>
          </xs:simpleType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="id" use="required">
        <xs:simpleType>
          <xs:restriction base="xs:positiveInteger"/>
        </xs:simpleType>
      </xs:attribute>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def q_xsd_orders_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML cells synthesized from orders, validated against the XSD
    subset on the JVM builtin tier (from_xml + lexical predicates —
    no Python boundary).  Two variants: the faithful serialization
    (valid) and a negated-total mutation (violates minExclusive)."""
    from fences_spark.schema.xsd import compile_xml, parse_xsd

    schema = parse_xsd(_ORDER_XSD)["order"]
    orders = _t(spark, sf_dir, "orders")

    def to_xml(total: F.Column) -> F.Column:
        return F.concat(
            F.lit('<order id="'), F.col("o_orderkey").cast("string"),
            F.lit('"><priority>'), F.col("o_orderpriority"),
            F.lit("</priority><total>"), total.cast("string"),
            F.lit("</total></order>"))

    variants = (
        orders.select(F.lit("plain").alias("variant"),
                      to_xml(F.col("o_totalprice")).alias("x"))
        .unionByName(orders.select(F.lit("neg_total").alias("variant"),
                                   to_xml(-F.col("o_totalprice")).alias("x")))
    )
    xml_pred, _tier = compile_xml(schema, F.col("x"))
    return (
        variants.select("variant", xml_pred.alias("ok"))
        .groupBy("variant")
        .agg(F.sum(F.col("ok").cast("long")).alias("n_valid"),
             F.count(F.lit(1)).alias("n_total"))
    )


SQL_XSD_ORDERS_XML = """
WITH v AS (
  SELECT 'plain' AS variant,
         (o_orderkey >= 1 AND regexp_matches(o_orderpriority, '^(?:[1-5]-[A-Z ]+)$')
          AND o_totalprice > 0) AS ok
  FROM orders
  UNION ALL
  SELECT 'neg_total',
         (o_orderkey >= 1 AND regexp_matches(o_orderpriority, '^(?:[1-5]-[A-Z ]+)$')
          AND -o_totalprice > 0)
  FROM orders
)
SELECT variant,
       SUM(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       COUNT(*)::BIGINT AS n_total
FROM v GROUP BY variant
"""


_ORDER_ITEMS_XSD = """
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="order">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="priority">
          <xs:simpleType>
            <xs:restriction base="xs:string">
              <xs:pattern value="[1-5]-[A-Z ]+"/>
            </xs:restriction>
          </xs:simpleType>
        </xs:element>
        <xs:element name="item" minOccurs="0" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="price">
                <xs:simpleType>
                  <xs:restriction base="xs:double">
                    <xs:minExclusive value="0"/>
                  </xs:restriction>
                </xs:simpleType>
              </xs:element>
            </xs:sequence>
            <xs:attribute name="sku" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
      <xs:attribute name="id" use="required">
        <xs:simpleType>
          <xs:restriction base="xs:positiveInteger"/>
        </xs:simpleType>
      </xs:attribute>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def q_xsd_violation_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-element XSD violation paths (NormalizedXPath diagnostics —
    reference parity: fences/xml_schema/xpath.py:12-36): orders +
    their lineitems are serialized to nested XML with three defect
    families planted deterministically (negated item price every 3rd
    linenumber, corrupt priority for orderkey%5, missing required id
    attribute for orderkey%7), validated on the JVM builtin tier, and
    exploded to one row per (order, violation path).

    The item assembly is a single co-partitioned groupBy on the join
    key with ≤7 bounded rows per group (collect_list is safe), so the
    plan is two shuffles end-to-end at any scale; paths are emitted by
    JVM Column algebra, no Python.  Input is the o_orderkey % 4 == 1
    order slice (pushed to both scans; 4 is coprime to every defect
    modulus, so all three families stay represented): per-row cost is
    parse-bound and measured at parity with the verdict tier on equal
    input — nested-array from_xml is ~7x flat-XML from_xml, so the
    full-table slice belongs to the same bench tier as
    xsd_orders_xml's flat 2x150k docs."""
    from fences_spark.schema.xsd import compile_xml_paths, parse_xsd

    schema = parse_xsd(_ORDER_ITEMS_XSD)["order"]
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 1)

    price = F.when(
        F.col("l_linenumber") % 3 == 0, -F.col("l_extendedprice")
    ).otherwise(F.col("l_extendedprice"))
    item_xml = F.concat(
        F.lit('<item sku="SKU'), F.col("l_partkey").cast("string"),
        F.lit('"><price>'), price.cast("string"), F.lit("</price></item>"))
    items = (
        li.select(F.col("l_orderkey"), F.struct("l_linenumber", item_xml.alias("x")).alias("it"))
        .groupBy("l_orderkey")
        .agg(F.array_join(F.transform(F.array_sort(F.collect_list("it")), lambda s: s.getField("x")), "").alias("items_xml"))
    )
    attr = F.when(F.col("o_orderkey") % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit(' id="'), F.col("o_orderkey").cast("string"), F.lit('"')))
    prio = F.when(F.col("o_orderkey") % 5 == 0, F.lit("9-bad")).otherwise(
        F.col("o_orderpriority"))
    doc = orders.join(items, orders.o_orderkey == items.l_orderkey, "left").select(
        "o_orderkey",
        F.concat(
            F.lit("<order"), attr, F.lit("><priority>"), prio, F.lit("</priority>"),
            F.coalesce(F.col("items_xml"), F.lit("")), F.lit("</order>")).alias("x"))
    paths, _tier = compile_xml_paths(schema, F.col("x"), "order")
    return doc.select("o_orderkey", F.explode(paths).alias("path"))


SQL_XSD_VIOLATION_PATHS = """
SELECT l_orderkey AS o_orderkey,
       '/order[0]/item['
         || (ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1)
         || ']/price[0]' AS path
FROM lineitem
WHERE l_orderkey % 4 = 1
QUALIFY l_linenumber % 3 = 0
UNION ALL
SELECT o_orderkey, '/order[0]/priority[0]' FROM orders
WHERE o_orderkey % 5 = 0 AND o_orderkey % 4 = 1
UNION ALL
SELECT o_orderkey, '/order[0]/@id' FROM orders
WHERE o_orderkey % 7 = 0 AND o_orderkey % 4 = 1
"""


def q_uneval_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unevaluatedProperties on JSON cells under the oracle gate:
    three synthesized variants of events.props validated against a
    closed-object rule — lowered at compile time to
    additionalProperties (compiler.lower_unevaluated) and evaluated on
    the pure-JVM variant tier."""
    from fences_spark.compiler.jsonvalue import compile_json

    rule = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0}},
        "unevaluatedProperties": False,
    }
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    variants = (
        ev.select(F.lit("plain").alias("variant"), F.col("props").alias("cell"))
        .unionByName(ev.select(
            F.lit("extra_key").alias("variant"),
            F.concat(F.lit('{"k": '), k, F.lit(', "zz": "x"}')).alias("cell")))
        .unionByName(ev.select(
            F.lit("wrong_type").alias("variant"),
            F.concat(F.lit('{"k": "s'), k, F.lit('"}')).alias("cell")))
    )
    pred, _tier = compile_json(rule, F.col("cell"))
    return (
        variants.select("variant", pred.alias("ok"))
        .groupBy("variant")
        .agg(F.sum(F.col("ok").cast("long")).alias("n_valid"),
             F.count(F.lit(1)).alias("n_total"))
    )


SQL_UNEVAL_PROPS_EVENTS = """
WITH v AS (
  SELECT 'plain' AS variant,
         (json_extract(props, '$.k') IS NOT NULL
          AND CAST(json_extract(props, '$.k') AS DOUBLE) >= 0) AS ok
  FROM events
  UNION ALL
  SELECT 'extra_key', FALSE FROM events
  UNION ALL
  SELECT 'wrong_type', FALSE FROM events
)
SELECT variant,
       SUM(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       COUNT(*)::BIGINT AS n_total
FROM v GROUP BY variant
"""


def q_content_b64_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """content* keywords under the oracle gate: documents' n_chars
    serialized as base64(JSON), validated with the unbase64 round-trip
    + try_parse_json + compiled contentSchema on the variant tier.
    The 'corrupt' variant breaks the base64 alphabet."""
    from fences_spark.compiler.jsonvalue import compile_json

    rule = {
        "type": "string",
        "contentEncoding": "base64",
        "contentMediaType": "application/json",
        "contentSchema": {
            "type": "object",
            "required": ["len"],
            "properties": {"len": {"type": "integer", "minimum": 1}},
        },
    }
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(F.lit('{"len": '), F.col("n_chars").cast("string"), F.lit("}"))
    b64 = F.base64(F.encode(payload, "UTF-8"))
    # the rule column holds JSON *documents*: the string value is its
    # own JSON serialization (base64 alphabet needs no escaping)
    variants = (
        docs.select(F.lit("plain").alias("variant"),
                    F.concat(F.lit('"'), b64, F.lit('"')).alias("cell"))
        .unionByName(docs.select(F.lit("corrupt").alias("variant"),
                                 F.concat(F.lit('"'), b64, F.lit('!"')).alias("cell")))
    )
    pred, _tier = compile_json(rule, F.col("cell"))
    return (
        variants.select("variant", pred.alias("ok"))
        .groupBy("variant")
        .agg(F.sum(F.col("ok").cast("long")).alias("n_valid"),
             F.count(F.lit(1)).alias("n_total"))
    )


SQL_CONTENT_B64_DOCS = """
WITH v AS (
  SELECT 'plain' AS variant, (n_chars >= 1) AS ok FROM documents
  UNION ALL
  SELECT 'corrupt', FALSE FROM documents
)
SELECT variant,
       SUM(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       COUNT(*)::BIGINT AS n_total
FROM v GROUP BY variant
"""


_ANN_DIM, _ANN_PLANES, _ANN_TABLES, _ANN_K = 64, 4, 4, 3


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (the 100 TB scale
    path for similarity search): candidates collide in ANY of the
    hash-derived hyperplane tables, then re-rank by exact cosine.
    Fully deterministic (±1 plane weights are md5-derived literals),
    so the DuckDB oracle reproduces the same buckets, candidates, and
    ranks exactly."""
    from fences_spark.operators.similarity import ann_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ann_topk_lsh(
        queries, emb, dim=_ANN_DIM, k=_ANN_K,
        n_planes=_ANN_PLANES, n_tables=_ANN_TABLES, multiprobe=False,
    ).select("query_id", "neighbor_id", "cos", "rank")


def _ann_oracle_sql() -> str:
    """DuckDB mirror of ann_topk_lsh: same ±1 weights (inlined as
    literals), same bucket bits (proj > 0), same any-table collision
    candidates, same cosine re-rank and tie-break."""
    from fences_spark.operators.similarity import _plane_weight

    def bucket_expr(vcol: str, table: int) -> str:
        bits = []
        for p in range(_ANN_PLANES):
            ws = ", ".join(
                str(int(_plane_weight(p, i, f"lsh:{table}"))) for i in range(_ANN_DIM)
            )
            bits.append(
                f"(CASE WHEN list_dot_product({vcol}, [{ws}]::DOUBLE[]) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(bits)

    def side(name: str, idc: str, where: str) -> str:
        arms = " UNION ALL ".join(
            f"SELECT vec_id AS {idc}, embedding::DOUBLE[] AS v_{idc}, {t} AS tbl, "
            f"({bucket_expr('embedding::DOUBLE[]', t)}) AS bucket "
            f"FROM embeddings {where}"
            for t in range(_ANN_TABLES)
        )
        return f"{name} AS ({arms})"

    return f"""
WITH {side('qb', 'query_id', 'WHERE vec_id < 20')},
{side('cb', 'neighbor_id', '')},
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM qb JOIN cb USING (tbl, bucket)
  WHERE query_id <> neighbor_id
),
qv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos
  FROM cand c
  JOIN qv q ON q.vec_id = c.query_id
  JOIN qv n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


SQL_ANN_LSH_TOPK = _ann_oracle_sql()


_IVF_CELLS, _IVF_NPROBE, _IVF_K, _IVF_ITERS = 8, 2, 3, 1
_IVF_FIT_CACHE: dict[str, list[list[float]]] = {}


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) ANN, the second
    100 TB scale path: a deterministic Lloyd-fitted coarse quantizer
    partitions the corpus into cells; each query probes its nprobe
    nearest cells and candidates re-rank by exact cosine.  The fit is
    cross-engine reproducible (seed = lowest-id vectors, means rounded
    to 6 dp), so the DuckDB oracle re-derives the identical quantizer,
    cells, candidates, and ranks from the same table."""
    from fences_spark.operators.similarity import ivf_fit_centroids_det, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # the quantizer is a model artifact: fit once per corpus, search
    # many times (deterministic, so the memo can never go stale)
    cents = _IVF_FIT_CACHE.get(sf_dir)
    if cents is None:
        cents = _IVF_FIT_CACHE[sf_dir] = ivf_fit_centroids_det(
            emb, dim=_ANN_DIM, n_cells=_IVF_CELLS, iters=_IVF_ITERS
        )
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        queries, emb, cents, k=_IVF_K, nprobe=_IVF_NPROBE
    ).select("query_id", "neighbor_id", "cos", "rank")


def _ivf_oracle_sql() -> str:
    """DuckDB mirror of ivf_fit_centroids_det + ivf_topk: same seed
    centroids (lowest n_cells ids), same squared-L2 assignment with
    lowest-cell tie-break, same 6-dp-rounded Lloyd recenter (empty
    cells keep their seed), same nprobe probing and cosine re-rank."""
    dim, cells = _ANN_DIM, _IVF_CELLS
    d_expr = (
        "list_sum(list_transform(range(1, %d), i -> (e[i]-c[i])*(e[i]-c[i])))" % (dim + 1)
    )

    def assign(src_v: str, name: str, cent: str, rn_max: int, where: str = "") -> str:
        return f"""{name} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT {src_v}.vec_id, {cent}.cell, {d_expr} AS d
          FROM {src_v} CROSS JOIN {cent} {where})
  ) WHERE rn <= {rn_max}
)"""

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS (
  SELECT cell, e AS c FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
    FROM v ORDER BY vec_id LIMIT {cells})
),
{assign('v', 'a1', 'c0', 1)},
cm AS (
  SELECT a1.cell, r.i AS dim, round(avg(v.e[r.i]), 6) AS m
  FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, {dim + 1}) r(i)
  GROUP BY a1.cell, r.i
),
c1 AS (
  SELECT c0.cell, coalesce(cl.c, c0.c) AS c
  FROM c0 LEFT JOIN (
    SELECT cell, list(m ORDER BY dim) AS c FROM cm GROUP BY cell) cl
  USING (cell)
),
{assign('v', 'ca', 'c1', 1)},
{assign('v', 'qp', 'c1', _IVF_NPROBE, 'WHERE v.vec_id < 20')},
cand AS (
  SELECT DISTINCT qp.vec_id AS query_id, ca.vec_id AS neighbor_id
  FROM qp JOIN ca USING (cell)
  WHERE qp.vec_id <> ca.vec_id
),
qv AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(q.vec, n.vec)
               / (sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(n.vec, n.vec))), 6) AS cos
  FROM cand c
  JOIN qv q ON q.vec_id = c.query_id
  JOIN qv n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)::BIGINT AS rank
  FROM scored
) WHERE rank <= {_IVF_K}
"""


SQL_ANN_IVF_TOPK = _ivf_oracle_sql()


def q_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data curation):
    20% of 'en' docs, 10% of everything else, membership a pure
    function of md5(doc_id) — reproducible across engines, cluster
    sizes, and resumes.  Pure codegen filter, no shuffle before the
    verdict aggregation."""
    from fences_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    picked = stratified_sample(docs, "doc_id", "lang", {"en": 0.20}, default_fraction=0.10)
    return (
        picked.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"),
             F.sum("n_chars").alias("sum_chars"))
    )


SQL_SAMPLE_DOCUMENTS = """
SELECT lang,
       COUNT(*)::BIGINT AS n_sampled,
       SUM(n_chars)::BIGINT AS sum_chars
FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
      CASE WHEN lang = 'en' THEN '3333' ELSE '1999' END
GROUP BY lang
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction through the real Arrow-batched
    mapInPandas path (operators/multimodal.py): documents projected
    into the media schema (payload = UTF-8 bytes), per-payload
    deterministic fake-decode features.  The float feature vector is
    folded back to the digest-byte hex fingerprint it was derived
    from, so the oracle is an exact string compare — the value-hash
    gate covers the whole Python boundary (batch shape, binary
    round-trip, float32 storage), not just row counts.

    Reference precedent: none (fences is schema-only); required by the
    task brief's multimodal-plumbing item (SURVEY.md §2.F)."""
    from fences_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = extract_features(media)
    byte_hex = lambda x: F.lpad(  # noqa: E731
        F.lower(F.hex(F.round(x.cast("double") * 255, 0).cast("int"))), 2, "0"
    )
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.array_join(F.transform(F.col("feature"), byte_hex), "").alias("feature_hex"),
    )


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       (['image','audio','video'])[(doc_id % 3)::INT + 1] AS modality,
       octet_length(encode(text))::BIGINT AS n_bytes,
       substr(sha256(text), 1, 16) AS feature_hex
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through mapInPandas: one row per sampled
    frame, frame hash = sha256(payload || '#' || frame_idx) per the
    operator's cross-engine convention, n_frames = min(8, max(dur//10s,
    1)).  Durations are a pure function of doc_id, so DuckDB re-derives
    the identical frame set with a constant generate_series + filter
    (its table functions reject lateral column bounds)."""
    from fences_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return sample_frames(media, every_ms=10_000, max_frames=8)


SQL_MULTIMODAL_FRAMES = """
WITH media AS (
  SELECT doc_id AS media_id, text,
         ((doc_id * 7919) % 90000) AS duration_ms
  FROM documents
  WHERE doc_id % 3 = 2
)
SELECT media_id,
       i::INT AS frame_idx,
       sha256(text || '#' || i::VARCHAR) AS frame_sha256
FROM media, generate_series(0, 7) AS t(i)
WHERE i <= least(7, greatest(duration_ms // 10000 - 1, 0))
"""


def q_mix_interleave_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted interleave of document languages into
    one training order: every block of 6 positions holds 3 'en',
    2 'de', 1 'fr' slots (integer-exact mixture scheduling)."""
    from fences_spark.operators.sampling import weighted_interleave

    docs = _t(spark, sf_dir, "documents")
    return weighted_interleave(
        docs, "doc_id", "lang", {"en": 3, "de": 2, "fr": 1}
    ).orderBy("pos")


SQL_MIX_INTERLEAVE_DOCS = """
WITH ranked AS (
  SELECT doc_id, lang AS stratum,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substring(md5('mix42#' || doc_id::VARCHAR), 1, 15))::BIGINT,
                    doc_id
         ) - 1 AS r,
         CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'fr' THEN 1 END AS w,
         CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 3 WHEN 'fr' THEN 5 END AS o
  FROM documents
  WHERE lang IN ('en', 'de', 'fr')
)
SELECT doc_id, stratum, ((r // w) * 6 + o + (r % w))::BIGINT AS pos
FROM ranked
ORDER BY pos
"""


_URL_ENRICH_SQL_CTE = """enriched AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 4 = 1 THEN ' see https://ok.example.org/page'
           WHEN doc_id % 4 = 2 THEN ' via http://ads.tracker.net/x' || doc_id::VARCHAR
           WHEN doc_id % 4 = 3 THEN ' and https://cdn.spam-site.com/y'
           ELSE '' END AS text
  FROM documents
)"""


def _enrich_urls(docs: DataFrame) -> DataFrame:
    """Plant an allowed / blocked / subdomain-blocked URL on 3/4 of
    documents as a pure function of doc_id — shared by the blocklist
    and full-curation entries; `_URL_ENRICH_SQL_CTE` is the oracle's
    byte-identical mirror."""
    did = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.when(did % 4 == 1, F.lit(" see https://ok.example.org/page"))
         .when(did % 4 == 2,
               F.concat(F.lit(" via http://ads.tracker.net/x"), did.cast("string")))
         .when(did % 4 == 3, F.lit(" and https://cdn.spam-site.com/y"))
         .otherwise(F.lit("")),
    )
    return docs.select("doc_id", enriched.alias("text"))


def q_blocklist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate over deterministically planted URLs (the
    raw corpus has none)."""
    from fences_spark.operators.curate import blocklist_filter

    return blocklist_filter(
        _enrich_urls(_t(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        ["tracker.net", "spam-site.com"],
    )


SQL_BLOCKLIST_DOCS = "WITH " + _URL_ENRICH_SQL_CTE + """, doms AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_extract_all(lower(text), 'https?://([a-z0-9.-]+)', 1))) AS d
  FROM enriched
), hits AS (
  SELECT doc_id, d,
         list_filter(d, x -> x = 'tracker.net' OR x LIKE '%.tracker.net'
                          OR x = 'spam-site.com' OR x LIKE '%.spam-site.com') AS m
  FROM doms
)
SELECT doc_id,
       len(d)::INT AS n_domains,
       len(m) > 0 AS blocked,
       CASE WHEN len(m) > 0 THEN m[1] END AS matched_domain
FROM hits
ORDER BY doc_id
"""


def q_lexdiv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio (distinct
    tokens / tokens) — the classic repetitiveness-adjacent quality
    signal; pure per-row array algebra, zero shuffles."""
    from fences_spark.operators import round6
    from fences_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
        F.when(n > 0, round6(F.size(F.array_distinct(toks)) / n))
         .otherwise(F.lit(0.0)).alias("ttr"),
    ).orderBy("doc_id")


SQL_LEXDIV_DOCS = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_types,
       CASE WHEN len(toks) > 0
            THEN ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6)
            ELSE 0.0 END AS ttr
FROM t
ORDER BY doc_id
"""


def q_quality_pct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality percentile (percent_rank within stratum):
    the normalization that makes a 'top X%' cutoff comparable across
    languages with different raw score distributions."""
    from fences_spark.operators.sampling import quality_percentiles

    docs = _t(spark, sf_dir, "documents")
    return quality_percentiles(docs, "doc_id", "text", "lang")


def _sql_quality_pct() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, lang AS stratum, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), feat AS (
  SELECT doc_id, stratum,
    ROUND(CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS mtl,
    ROUND(CASE WHEN length(text) > 0
               THEN len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text)
               ELSE 0.0 END, 6) AS ar,
    ROUND(CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> x IN ({_SW_EN})))::DOUBLE / len(toks)
               ELSE 0.0 END, 6) AS sr,
    len(toks) AS ntok
  FROM t
), q AS (
  SELECT doc_id, stratum,
    ROUND((CASE WHEN ntok BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 0.25 ELSE 0.0 END)
        + least(ar / 0.7::DOUBLE, 1.0::DOUBLE) * 0.25
        + least(sr / 0.2::DOUBLE, 1.0::DOUBLE) * 0.25, 6) AS quality
  FROM feat
)
SELECT doc_id, stratum, quality,
       percent_rank() OVER (PARTITION BY stratum ORDER BY quality, doc_id) AS pct
FROM q
ORDER BY doc_id
"""


def q_length_band_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-quantile length-band gate: keep documents whose token
    count lies within the corpus [p5, p95] band (exact percentile for
    the oracle; percentile_approx is the 100 TB path)."""
    from fences_spark.operators.curate import length_band_filter

    docs = _t(spark, sf_dir, "documents")
    return length_band_filter(docs, "doc_id", "text", p_lo=0.05, p_hi=0.95)


SQL_LENGTH_BAND_DOCS = """
WITH toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_tokens
  FROM documents
), band AS (
  SELECT round(quantile_cont(n_tokens, 0.05), 6) AS lo,
         round(quantile_cont(n_tokens, 0.95), 6) AS hi
  FROM toks
)
SELECT doc_id, n_tokens, lo, hi,
       (n_tokens >= lo AND n_tokens <= hi) AS keep
FROM toks, band
ORDER BY doc_id
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize over the media projection of
    documents: output geometry is integer Column algebra (JVM), only
    the stubbed pixel resample crosses the Arrow boundary."""
    from fences_spark.operators.multimodal import (
        media_from_documents,
        resize_images,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return resize_images(media, target_w=64, target_h=64)


SQL_MULTIMODAL_RESIZE = """
WITH media AS (
  SELECT doc_id AS media_id, text,
         ((doc_id % 640) + 1)::BIGINT AS w,
         ((doc_id % 480) + 1)::BIGINT AS h
  FROM documents
  WHERE doc_id % 3 = 0
), dims AS (
  SELECT media_id, text, w, h,
         CASE WHEN w >= h THEN 64
              ELSE greatest(1, floor(w * 64 / h)::BIGINT) END AS out_w,
         CASE WHEN w >= h THEN greatest(1, floor(h * 64 / w)::BIGINT)
              ELSE 64 END AS out_h
  FROM media
)
SELECT media_id,
       w::INT AS in_w, h::INT AS in_h,
       out_w::INT AS out_w, out_h::INT AS out_h,
       sha256(text || '#' || out_w::VARCHAR || 'x' || out_h::VARCHAR) AS resized_sha256
FROM dims
"""


def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode end-to-end: a deterministic distributed
    table of actual BMP / PCM-WAV / RAWV-video payloads
    (synth_real_media_table) is decoded by the same Arrow mapInPandas
    operator the fake path uses — per-channel pixel statistics for
    images, PCM sample statistics for audio, first-frame features for
    video (operators/codecs.py, pure numpy, no codec library).

    Rows-only driver gate (DuckDB cannot parse BMP/WAV); the value
    correctness lives in tests/test_codecs.py, which re-decodes
    payloads locally and asserts feature/geometry/digest equality,
    and determinism across parallelism is pinned by
    test_synth_real_media_deterministic_and_distributed."""
    from fences_spark.operators.multimodal import (
        extract_features,
        synth_real_media_table,
    )

    media = synth_real_media_table(spark, 300)
    feats = extract_features(media, decode="real")
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.array_join(
            # format_string, NOT format_number: the latter inserts
            # grouping commas for |x| ≥ 1000 — the array_join separator
            F.transform(
                F.col("feature"),
                lambda x: F.format_string("%.6f", x.cast("double")),
            ),
            ",",
        ).alias("feature_sig"),
    ).orderBy("media_id")


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-5-gram with the held-out eval split (a deterministic 5%
    hash split of the corpus stands in for the benchmark set)."""
    from fences_spark.operators.curate import decontaminate
    from fences_spark.operators.sampling import hash_bucket, threshold_hex

    docs = _t(spark, sf_dir, "documents")
    is_eval = hash_bucket(F.col("doc_id")) < F.lit(threshold_hex(0.05))
    return decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), "doc_id", "text", k=5
    )


SQL_DECONTAMINATE_DOCS = """
WITH split AS (
  SELECT doc_id, text,
         substring(md5(doc_id::VARCHAR), 1, 4) < '0ccc' AS is_eval
  FROM documents
), toks AS (
  SELECT doc_id, is_eval,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM split
), grams AS (
  SELECT doc_id, is_eval,
         unnest(list_distinct(CASE WHEN len(t) >= 5
                     THEN list_transform(range(1, len(t) - 3),
                                         i -> array_to_string(t[i:i+4], ' '))
                     WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END)) AS gram
  FROM toks
), hashed AS (
  SELECT doc_id, is_eval, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h FROM grams
), ev AS (
  SELECT DISTINCT h FROM hashed WHERE is_eval
)
SELECT t.doc_id,
       COUNT(*)::BIGINT AS total_grams,
       SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hit_grams,
       SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
FROM hashed t LEFT JOIN ev ON t.h = ev.h
WHERE NOT t.is_eval
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def q_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/secret scrub report over a deterministically enriched text
    column (the raw corpus is synthetic word soup with nothing to
    redact, so emails / IPv4s / hex secrets are planted as a pure
    function of doc_id — identically derivable by the oracle)."""
    from fences_spark.operators.text import redact_documents

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    enriched = F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit(" contact user"), s(did), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" from 10."), s(did % 200), F.lit(".3."), s(did % 250)),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" secret "), F.md5(F.concat(F.lit("tok"), s(did)))),
        ).otherwise(F.lit("")),
    )
    return redact_documents(
        docs.select("doc_id", enriched.alias("text")), "doc_id", "text"
    )


SQL_REDACT_DOCS = r"""
WITH enriched AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.' || (doc_id % 200)::VARCHAR || '.3.' || (doc_id % 250)::VARCHAR
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' secret ' || md5('tok' || doc_id::VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INT AS n_email,
       len(regexp_extract_all(text, '\b\d{1,3}(?:\.\d{1,3}){3}\b'))::INT AS n_ipv4,
       len(regexp_extract_all(text, '\b[0-9a-f]{32}\b'))::INT AS n_hex_secret,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g'),
           '\b[0-9a-f]{32}\b', '<SECRET>', 'g')) AS redacted_digest
FROM enriched
ORDER BY doc_id
"""


def q_shuffle_shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: hash-shard the corpus
    into 8 shards with a reproducible total order inside each."""
    from fences_spark.operators.sampling import shuffle_shards

    docs = _t(spark, sf_dir, "documents")
    return shuffle_shards(docs, "doc_id", n_shards=8).orderBy("doc_id")


SQL_SHUFFLE_SHARD_DOCS = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substring(md5('shuf42#' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id,
       (h % 8)::INT AS shard,
       row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)::INT AS rnk
FROM h
ORDER BY doc_id
"""


def q_luhn_cards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated payment-card scrub over the corpus: enrich each
    document with a deterministic mix of a valid card, a
    checksum-failing near-card (an order id that must NOT be
    redacted), and separator-styled valid cards, then count
    candidates vs Luhn-valid cards and fold the scrubbed text to a
    digest.  Pure JVM nested higher-order functions — zero Python."""
    from fences_spark.operators.text import luhn_card_documents

    docs = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" card 4532015112830366"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" ref 4532015112830367"))
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit(" pay 5500 0000 0000 0004 or 4111-1111-1111-1111"),
        )
        .otherwise(F.lit("")),
    )
    return luhn_card_documents(
        docs.select("doc_id", enriched.alias("text")), "doc_id", "text"
    )


SQL_LUHN_CARDS_DOCS = r"""
WITH enriched AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 4 = 0 THEN ' card 4532015112830366'
                      WHEN doc_id % 4 = 1 THEN ' ref 4532015112830367'
                      WHEN doc_id % 4 = 2 THEN ' pay 5500 0000 0000 0004 or 4111-1111-1111-1111'
                      ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\b(?:\d[ -]?){12,18}\d\b') AS cands
  FROM enriched
), d AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> regexp_replace(x, '[^0-9]', '', 'g')) AS digs
  FROM c
), v AS (
  SELECT doc_id, text, cands,
         list_filter(cands, (x, ci) ->
            len(digs[ci]) BETWEEN 13 AND 19 AND
            list_sum(list_transform(range(1, len(digs[ci]) + 1), i ->
              CASE WHEN (len(digs[ci]) - i) % 2 = 0 THEN ascii(digs[ci][i]) - 48
                   ELSE CASE WHEN (ascii(digs[ci][i]) - 48) * 2 > 9
                        THEN (ascii(digs[ci][i]) - 48) * 2 - 9
                        ELSE (ascii(digs[ci][i]) - 48) * 2 END END)) % 10 = 0
         ) AS valid
  FROM d
)
SELECT doc_id,
       len(cands)::INT AS n_card_candidates,
       len(valid)::INT AS n_card_valid,
       md5(list_reduce(list_prepend(text, valid),
                       (acc, x) -> replace(acc, x, '<CC>'))) AS redacted_digest
FROM v
ORDER BY doc_id
"""



def q_iban_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 13616 mod-97 IBAN scrub over the corpus: deterministic mix
    of valid IBANs, a checksum-failing lookalike that must NOT be
    redacted, and IBAN-free docs.  Pure JVM nested higher-order
    functions (sequential modular fold per candidate) — zero Python."""
    from fences_spark.operators.text import iban_documents

    docs = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" iban GB82WEST12345698765432"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(" acct DE89370400440532013000 ref GB82WEST12345698765433"),
        )
        .otherwise(F.lit("")),
    )
    return iban_documents(
        docs.select("doc_id", enriched.alias("text")), "doc_id", "text"
    )


SQL_IBAN_DOCS = r"""
WITH enriched AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' iban GB82WEST12345698765432'
                      WHEN doc_id % 3 = 1 THEN ' acct DE89370400440532013000 ref GB82WEST12345698765433'
                      ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b') AS cands
  FROM enriched
), r AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> x[5:] || x[1:4]) AS rearr
  FROM c
), v AS (
  SELECT doc_id, text, cands,
         list_filter(cands, (x, ci) ->
            list_reduce(
              list_prepend(0, list_transform(range(1, len(rearr[ci]) + 1), i ->
                CASE WHEN ascii(rearr[ci][i]) BETWEEN 48 AND 57
                     THEN ascii(rearr[ci][i]) - 48
                     ELSE -(ascii(rearr[ci][i]) - 55) END)),
              (acc, vv) -> CASE WHEN vv >= 0 THEN (acc * 10 + vv) % 97
                                ELSE (acc * 100 - vv) % 97 END) = 1
         ) AS valid
  FROM r
)
SELECT doc_id,
       len(cands)::INT AS n_iban_candidates,
       len(valid)::INT AS n_iban_valid,
       md5(list_reduce(list_prepend(text, valid),
                       (acc, x) -> replace(acc, x, '<IBAN>'))) AS redacted_digest
FROM v
ORDER BY doc_id
"""



def q_entropy_secrets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-entropy secret scan over the corpus: deterministic mix of
    a generated API-key-like token (flagged + redacted), a long
    snake_case identifier (kept), and clean docs.  Pure JVM nested
    higher-order functions — zero Python."""
    from fences_spark.operators.text import entropy_secret_documents

    docs = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(" token sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u"),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit(" var total_validation_error_count_by_bucket"),
        )
        .otherwise(F.lit("")),
    )
    return entropy_secret_documents(
        docs.select("doc_id", enriched.alias("text")), "doc_id", "text"
    )


SQL_ENTROPY_SECRETS_DOCS = r"""
WITH enriched AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' token sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u'
                      WHEN doc_id % 3 = 1 THEN ' var total_validation_error_count_by_bucket'
                      ELSE '' END AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(text, '[A-Za-z0-9+/=_-]+'),
                     x -> len(x) >= 20) AS cands
  FROM enriched
), e AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> round(list_max(list_transform(
           list_distinct([left(x, 64), right(x, 64)]), w ->
           list_sum(list_transform(list_distinct(string_split(w, '')), ch ->
             -(len(list_filter(string_split(w, ''), y -> y = ch)) * 1.0 / len(w))
              * log2(len(list_filter(string_split(w, ''), y -> y = ch)) * 1.0 / len(w))
           )))), 6)) AS ents
  FROM c
), v AS (
  SELECT doc_id, text, cands, ents,
         list_filter(cands, (x, ci) -> ents[ci] >= 4.2) AS high
  FROM e
)
SELECT doc_id,
       len(cands)::INT AS n_secret_candidates,
       len(high)::INT AS n_high_entropy,
       CASE WHEN len(cands) > 0 THEN list_max(ents) END AS max_entropy,
       md5(list_reduce(list_prepend(text, high),
                       (acc, x) -> replace(acc, x, '<KEY>'))) AS redacted_digest
FROM v
ORDER BY doc_id
"""



def q_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative unigram surprisal quality score per document:
    explode → vocabulary aggregate → token⋈vocab shuffle join (AQE
    absorbs Zipf skew) → per-doc mean of -log2(p(tok)).  All JVM."""
    from fences_spark.operators.text import token_surprisal_documents

    docs = _t(spark, sf_dir, "documents")
    return token_surprisal_documents(docs, "doc_id", "text")


SQL_SURPRISAL_DOCS = r"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(tok)
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
  SELECT sum(cnt) AS n_total FROM vocab
), scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         round(avg(log2(n_total) - log2(cnt)), 6) AS mean_surprisal
  FROM toks JOIN vocab USING (tok) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       s.mean_surprisal
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""



def q_json_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over a synthesized nested-JSON column: path/
    type profile down to depth 3, with a deliberate type conflict
    ($.id number vs string), optional keys, JSON nulls, and
    variable-length arrays.  Variant machinery, zero Python."""
    from fences_spark.operators.jsonprofile import json_path_profile

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    idpart = (
        F.when(k % 7 == 0, F.concat(F.lit('"O'), k.cast("string"), F.lit('"')))
        .otherwise(k.cast("string"))
    )
    items = (
        F.when(k % 3 == 0, F.lit(""))
        .when(
            k % 3 == 1,
            F.concat(F.lit('{"p": '), (k % 10).cast("string"), F.lit(', "q": 1.5}')),
        )
        .otherwise(
            F.concat(
                F.lit('{"p": '), (k % 10).cast("string"), F.lit(', "q": 2}, {"p": 3}')
            )
        )
    )
    flag = (
        F.when(k % 5 == 0, F.lit("null"))
        .when(k % 5 < 3, F.lit("true"))
        .otherwise(F.lit("0.5"))
    )
    j = F.concat(
        F.lit('{"id": '), idpart,
        F.lit(', "cust": {"key": '), (k % 100).cast("string"),
        F.lit(', "seg": "S'), (k % 4).cast("string"), F.lit('"}'),
        F.lit(', "items": ['), items, F.lit("]"),
        F.lit(', "flag": '), flag, F.lit("}"),
    )
    return json_path_profile(
        orders.select(k.alias("doc_id"), j.alias("j")), "doc_id", "j"
    )


SQL_JSON_PROFILE_ORDERS = r"""
WITH src AS (
  SELECT o_orderkey AS doc_id,
         '{"id": '
         || CASE WHEN o_orderkey % 7 = 0 THEN '"O' || o_orderkey::VARCHAR || '"'
                 ELSE o_orderkey::VARCHAR END
         || ', "cust": {"key": ' || (o_orderkey % 100)::VARCHAR
         || ', "seg": "S' || (o_orderkey % 4)::VARCHAR || '"}'
         || ', "items": ['
         || CASE WHEN o_orderkey % 3 = 0 THEN ''
                 WHEN o_orderkey % 3 = 1
                   THEN '{"p": ' || (o_orderkey % 10)::VARCHAR || ', "q": 1.5}'
                 ELSE '{"p": ' || (o_orderkey % 10)::VARCHAR || ', "q": 2}, {"p": 3}'
            END
         || '], "flag": '
         || CASE WHEN o_orderkey % 5 = 0 THEN 'null'
                 WHEN o_orderkey % 5 < 3 THEN 'true'
                 ELSE '0.5' END
         || '}' AS j
  FROM orders
),
root AS (SELECT doc_id, '$' AS disp, '$' AS realp, j FROM src WHERE json_valid(j)),
l1 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM root WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM root WHERE json_type(j, realp) = 'ARRAY')
),
l2 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM l1 WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM l1 WHERE json_type(j, realp) = 'ARRAY')
),
l3 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM l2 WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM l2 WHERE json_type(j, realp) = 'ARRAY')
),
allp AS (
  SELECT * FROM root UNION ALL SELECT * FROM l1
  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
)
SELECT disp AS path,
       CASE COALESCE(json_type(j, realp), 'NULL')
         WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
         WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
         WHEN 'NULL' THEN 'null' ELSE 'number' END AS jtype,
       count(*)::BIGINT AS n, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM allp GROUP BY 1, 2 ORDER BY 1, 2
"""



def q_stream_schema_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING schema-drift monitor replayed over events.props: the
    baseline is the batch path/type profile of the raw props column;
    the replayed stream plants two deterministic anomalies (a new
    key at event_id%97, a type flip of $.k to string at event_id%89)
    — the sink must carry exactly the new_path/new_type rows."""
    import os

    from fences_spark.operators.jsonprofile import json_path_profile
    from fences_spark.streaming.schemadrift import (
        SchemaDriftConfig,
        start_schema_drift_stream,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    baseline = json_path_profile(ev, "event_id", "props")
    k = F.get_json_object("props", "$.k")
    enriched = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.concat(F.lit('{"k": '), k, F.lit(', "extra": "x"}')),
        )
        .when(
            F.col("event_id") % 89 == 0,
            F.concat(F.lit('{"k": "s'), k, F.lit('"}')),
        )
        .otherwise(F.col("props"))
        .alias("j"),
    )
    work = _stream_workdir("schemadrift", sf_dir)
    src = os.path.join(work, "src")
    enriched.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    cfg = SchemaDriftConfig(output_dir=work)
    q = start_schema_drift_stream(
        stream, baseline, cfg, id_col="event_id", json_col="j"
    )
    q.awaitTermination()
    return (
        spark.read.parquet(cfg.sink_path)
        .select("path", "jtype", "status", "n", "n_docs")
        .orderBy("path", "jtype")
    )


SQL_STREAM_SCHEMA_DRIFT_EVENTS = r"""
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0
              THEN '{"k": ' || json_extract_string(props, '$.k') || ', "extra": "x"}'
              WHEN event_id % 89 = 0
              THEN '{"k": "s' || json_extract_string(props, '$.k') || '"}'
              ELSE props END AS j
  FROM events
),
prof AS (
  SELECT event_id, '$' AS path, 'object' AS jtype FROM ev
  UNION ALL
  SELECT event_id, '$.' || key,
         CASE COALESCE(json_type(j, '$."' || key || '"'), 'NULL')
           WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
           WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
           WHEN 'NULL' THEN 'null' ELSE 'number' END
  FROM (SELECT event_id, j, unnest(json_keys(j)) AS key FROM ev)
),
baseprof AS (
  SELECT DISTINCT path, jtype FROM (
    SELECT '$' AS path, 'object' AS jtype FROM events
    UNION ALL
    SELECT '$.' || key,
           CASE COALESCE(json_type(props, '$."' || key || '"'), 'NULL')
             WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
             WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
             WHEN 'NULL' THEN 'null' ELSE 'number' END
    FROM (SELECT props, unnest(json_keys(props)) AS key FROM events)
  )
),
fresh AS (
  SELECT p.path, p.jtype,
         count(*)::BIGINT AS n, count(DISTINCT p.event_id)::BIGINT AS n_docs
  FROM prof p
  WHERE NOT EXISTS (SELECT 1 FROM baseprof b
                    WHERE b.path = p.path AND b.jtype = p.jtype)
  GROUP BY p.path, p.jtype
)
SELECT path, jtype,
       CASE WHEN path IN (SELECT path FROM baseprof)
            THEN 'new_type' ELSE 'new_path' END AS status,
       n, n_docs
FROM fresh ORDER BY path, jtype
"""



def q_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED release-gate scrub (operators.text.scrub_text) as
    its own value-hash-gated entry: documents deterministically
    enriched with every PII family (regex PII, valid + checksum-failing
    cards and IBANs, a high-entropy key, a long identifier), scrubbed,
    and folded to a digest.  Pure JVM chained projections."""
    from fences_spark.operators.text import scrub_text

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.when(d % 2 == 0, F.concat(
            F.lit(" mail user"), d.cast("string"), F.lit("@example.com from 10."),
            (d % 200).cast("string"), F.lit(".3.7"),
        )).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit(" card 4532015112830366"))
        .when(d % 3 == 1, F.lit(" ref 4532015112830367")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" iban GB82WEST12345698765432"))
        .when(d % 5 == 1, F.lit(" acct GB82WEST12345698765433")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" token sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u"))
        .otherwise(F.lit("")),
        F.lit(" var total_validation_error_count_by_bucket"),
    )
    scrubbed = scrub_text(
        docs.select("doc_id", enriched.alias("text")), "text"
    )
    return scrubbed.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("scrubbed_digest")
    ).orderBy("doc_id")


SQL_SCRUB_DOCS = r"""
WITH enriched AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' mail user' || doc_id::VARCHAR || '@example.com from 10.'
                      || (doc_id % 200)::VARCHAR || '.3.7' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN ' card 4532015112830366'
                 WHEN doc_id % 3 = 1 THEN ' ref 4532015112830367' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' iban GB82WEST12345698765432'
                 WHEN doc_id % 5 = 1 THEN ' acct GB82WEST12345698765433' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' token sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u'
                 ELSE '' END
         || ' var total_validation_error_count_by_bucket' AS text
  FROM documents
), s_regex AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g'),
           '\b[0-9a-f]{32}\b', '<SECRET>', 'g') AS text
  FROM enriched
), card_c AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\b(?:\d[ -]?){12,18}\d\b') AS cands
  FROM s_regex
), card_d AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> regexp_replace(x, '[^0-9]', '', 'g')) AS digs
  FROM card_c
), s_card AS (
  SELECT doc_id,
         list_reduce(list_prepend(text,
           list_filter(cands, (x, ci) ->
             len(digs[ci]) BETWEEN 13 AND 19 AND
             list_sum(list_transform(range(1, len(digs[ci]) + 1), i ->
               CASE WHEN (len(digs[ci]) - i) % 2 = 0 THEN ascii(digs[ci][i]) - 48
                    ELSE CASE WHEN 2*(ascii(digs[ci][i]) - 48) > 9
                         THEN 2*(ascii(digs[ci][i]) - 48) - 9
                         ELSE 2*(ascii(digs[ci][i]) - 48) END END)) % 10 = 0)),
           (acc, x) -> replace(acc, x, '<CC>')) AS text
  FROM card_d
), iban_c AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b') AS cands
  FROM s_card
), iban_r AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> x[5:] || x[1:4]) AS rearr
  FROM iban_c
), s_iban AS (
  SELECT doc_id,
         list_reduce(list_prepend(text,
           list_filter(cands, (x, ci) ->
             list_reduce(
               list_prepend(0, list_transform(range(1, len(rearr[ci]) + 1), i ->
                 CASE WHEN ascii(rearr[ci][i]) BETWEEN 48 AND 57
                      THEN ascii(rearr[ci][i]) - 48
                      ELSE -(ascii(rearr[ci][i]) - 55) END)),
               (acc, vv) -> CASE WHEN vv >= 0 THEN (acc * 10 + vv) % 97
                                 ELSE (acc * 100 - vv) % 97 END) = 1)),
           (acc, x) -> replace(acc, x, '<IBAN>')) AS text
  FROM iban_r
), key_c AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(text, '[A-Za-z0-9+/=_-]+'),
                     x -> len(x) >= 20) AS cands
  FROM s_iban
), key_e AS (
  SELECT doc_id, text, cands,
         list_transform(cands, x -> round(list_max(list_transform(
           list_distinct([left(x, 64), right(x, 64)]), w ->
           list_sum(list_transform(list_distinct(string_split(w, '')), ch ->
             -(len(list_filter(string_split(w, ''), y -> y = ch)) * 1.0 / len(w))
              * log2(len(list_filter(string_split(w, ''), y -> y = ch)) * 1.0 / len(w))
           )))), 6)) AS ents
  FROM key_c
), s_key AS (
  SELECT doc_id,
         list_reduce(list_prepend(text,
           list_filter(cands, (x, ci) -> ents[ci] >= 4.2)),
           (acc, x) -> replace(acc, x, '<KEY>')) AS text
  FROM key_e
)
SELECT doc_id, md5(text) AS scrubbed_digest
FROM s_key
ORDER BY doc_id
"""



def q_incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental exact dedup: batch 1 = even doc_ids,
    batch 2 = odd doc_ids with planted cross-batch dups (id%10==1
    copies the text of id-1, a batch-1 doc) and in-batch dups
    (id%10==7 copies id-2, an odd batch-2 doc).  Returns batch 2's
    surviving doc_ids after dedup against the snaplog fingerprint
    state committed by batch 1."""
    import os

    from fences_spark.operators.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    src = docs.select(F.col("doc_id").alias("rid"), F.col("text").alias("rtext"))
    b2 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .withColumn(
            "rid",
            F.when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1)
            .when(F.col("doc_id") % 10 == 7, F.col("doc_id") - 2),
        )
        .join(src, "rid", "left")
        .select("doc_id", F.coalesce("rtext", "text").alias("text"))
    )
    work = _stream_workdir("incdedup", sf_dir)
    root = os.path.join(work, "state")
    s1, _ = incremental_exact_dedup(spark, root, b1, "doc_id", "text")
    s1.count()  # materialize so batch 1's state commit happens first
    s2, _ = incremental_exact_dedup(spark, root, b2, "doc_id", "text")
    return s2.select("doc_id").orderBy("doc_id")


SQL_INCREMENTAL_DEDUP_DOCS = """
WITH b2 AS (
  SELECT d.doc_id, COALESCE(r.text, d.text) AS text
  FROM documents d
  LEFT JOIN documents r
    ON r.doc_id = CASE WHEN d.doc_id % 10 = 1 THEN d.doc_id - 1
                       WHEN d.doc_id % 10 = 7 THEN d.doc_id - 2 END
  WHERE d.doc_id % 2 = 1
), b1fp AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
), keep AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS keep_id FROM b2 GROUP BY 1
)
SELECT k.keep_id AS doc_id
FROM keep k
WHERE NOT EXISTS (SELECT 1 FROM b1fp b WHERE b.fp = k.fp)
ORDER BY doc_id
"""



def q_json_values_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level schema discovery over the same synthesized nested
    JSON as json_profile_orders: top-8 observed values per scalar
    path (canonical JSON text), ranked by count then value."""
    from fences_spark.operators.jsonprofile import json_value_profile

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    idpart = (
        F.when(k % 7 == 0, F.concat(F.lit('"O'), k.cast("string"), F.lit('"')))
        .otherwise(k.cast("string"))
    )
    items = (
        F.when(k % 3 == 0, F.lit(""))
        .when(
            k % 3 == 1,
            F.concat(F.lit('{"p": '), (k % 10).cast("string"), F.lit(', "q": 1.5}')),
        )
        .otherwise(
            F.concat(
                F.lit('{"p": '), (k % 10).cast("string"), F.lit(', "q": 2}, {"p": 3}')
            )
        )
    )
    flag = (
        F.when(k % 5 == 0, F.lit("null"))
        .when(k % 5 < 3, F.lit("true"))
        .otherwise(F.lit("0.5"))
    )
    j = F.concat(
        F.lit('{"id": '), idpart,
        F.lit(', "cust": {"key": '), (k % 100).cast("string"),
        F.lit(', "seg": "S'), (k % 4).cast("string"), F.lit('"}'),
        F.lit(', "items": ['), items, F.lit("]"),
        F.lit(', "flag": '), flag, F.lit("}"),
    )
    return json_value_profile(
        orders.select(k.alias("doc_id"), j.alias("j")), "doc_id", "j", top_k=8
    )


SQL_JSON_VALUES_ORDERS = r"""
WITH src AS (
  SELECT o_orderkey AS doc_id,
         '{"id": '
         || CASE WHEN o_orderkey % 7 = 0 THEN '"O' || o_orderkey::VARCHAR || '"'
                 ELSE o_orderkey::VARCHAR END
         || ', "cust": {"key": ' || (o_orderkey % 100)::VARCHAR
         || ', "seg": "S' || (o_orderkey % 4)::VARCHAR || '"}'
         || ', "items": ['
         || CASE WHEN o_orderkey % 3 = 0 THEN ''
                 WHEN o_orderkey % 3 = 1
                   THEN '{"p": ' || (o_orderkey % 10)::VARCHAR || ', "q": 1.5}'
                 ELSE '{"p": ' || (o_orderkey % 10)::VARCHAR || ', "q": 2}, {"p": 3}'
            END
         || '], "flag": '
         || CASE WHEN o_orderkey % 5 = 0 THEN 'null'
                 WHEN o_orderkey % 5 < 3 THEN 'true'
                 ELSE '0.5' END
         || '}' AS j
  FROM orders
),
root AS (SELECT doc_id, '$' AS disp, '$' AS realp, j FROM src WHERE json_valid(j)),
l1 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM root WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM root WHERE json_type(j, realp) = 'ARRAY')
),
l2 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM l1 WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM l1 WHERE json_type(j, realp) = 'ARRAY')
),
l3 AS (
  SELECT doc_id, disp || '.' || k AS disp, realp || '."' || k || '"' AS realp, j
  FROM (SELECT doc_id, disp, realp, j, unnest(json_keys(j, realp)) AS k
        FROM l2 WHERE json_type(j, realp) = 'OBJECT')
  UNION ALL
  SELECT doc_id, disp || '[]', realp || '[' || i || ']', j
  FROM (SELECT doc_id, disp, realp, j,
               unnest(range(json_array_length(j, realp)::BIGINT)) AS i
        FROM l2 WHERE json_type(j, realp) = 'ARRAY')
),
allp AS (
  SELECT * FROM root UNION ALL SELECT * FROM l1
  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
),
scal AS (
  SELECT disp AS path,
         CASE COALESCE(json_type(j, realp), 'NULL')
           WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
           WHEN 'NULL' THEN 'null' ELSE 'number' END AS jtype,
         COALESCE(json_extract(j, realp)::VARCHAR, 'null') AS value
  FROM allp
  WHERE COALESCE(json_type(j, realp), 'NULL') NOT IN ('OBJECT', 'ARRAY')
),
agg AS (
  SELECT path, jtype, value, count(*)::BIGINT AS n
  FROM scal GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY path, jtype ORDER BY n DESC, value) AS rk
  FROM agg
)
SELECT path, jtype, value, n, rk::INT AS rk
FROM ranked WHERE rk <= 8 ORDER BY path, jtype, rk
"""


@dataclass(frozen=True)
class Entry:
    """One driver entry: its Spark builder and exactly one of a DuckDB
    oracle (value-hash gated) or a written reason why the entry is
    checked on rows only.  ``bench`` marks the entries bench.py times."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    rows_only: str | None = None
    bench: bool = False


# Record order is the driver's window order: its correctness gate
# samples the first 50 entries.  The north-rule flagship pair leads,
# and every entry that no CORRECTNESS_r*.json has stamped yet must sit
# among the 50 (tests/test_entry_contract.py); then come the entries
# the latest round did not stamp.
ENTRIES: tuple[Entry, ...] = (
    Entry("files_verdicts_buckets", q_files_verdicts_buckets, SQL_FILES_VERDICTS_BUCKETS, bench=True),
    Entry("files_violation_rows", q_files_violation_rows, SQL_FILES_VIOLATION_ROWS, bench=True),
    Entry("luhn_cards_docs", q_luhn_cards_docs, SQL_LUHN_CARDS_DOCS, bench=True),
    Entry("iban_docs", q_iban_docs, SQL_IBAN_DOCS, bench=True),
    Entry("entropy_secrets_docs", q_entropy_secrets_docs, SQL_ENTROPY_SECRETS_DOCS, bench=True),
    Entry("surprisal_docs", q_surprisal_docs, SQL_SURPRISAL_DOCS, bench=True),
    Entry("json_profile_orders", q_json_profile_orders, SQL_JSON_PROFILE_ORDERS, bench=True),
    Entry(
        "stream_schema_drift_events", q_stream_schema_drift_events,
        SQL_STREAM_SCHEMA_DRIFT_EVENTS, bench=True,
    ),
    Entry("scrub_docs", q_scrub_docs, SQL_SCRUB_DOCS, bench=True),
    Entry("incremental_dedup_docs", q_incremental_dedup_docs, SQL_INCREMENTAL_DEDUP_DOCS, bench=True),
    Entry("json_values_orders", q_json_values_orders, SQL_JSON_VALUES_ORDERS, bench=True),
    Entry("multimodal_features", q_multimodal_features, SQL_MULTIMODAL_FEATURES, bench=True),
    Entry("multimodal_frames", q_multimodal_frames, SQL_MULTIMODAL_FRAMES, bench=True),
    Entry("grammar_priority_orders", q_grammar_priority_orders, _sql_grammar_priority(), bench=True),
    Entry("openapi_responses", q_openapi_responses, SQL_OPENAPI_RESPONSES, bench=True),
    Entry("xsd_orders_xml", q_xsd_orders_xml, SQL_XSD_ORDERS_XML, bench=True),
    Entry("uneval_props_events", q_uneval_props_events, SQL_UNEVAL_PROPS_EVENTS),
    Entry("ann_lsh_topk", q_ann_lsh_topk, SQL_ANN_LSH_TOPK, bench=True),
    Entry("near_dup_clusters", q_near_dup_clusters, _sql_near_dup_clusters()),
    Entry("near_dup_jaccard", q_near_dup_jaccard, _sql_near_dup_jaccard()),
    Entry("join_customer_orders", q_join_customer_orders, SQL_JOIN_CUSTOMER_ORDERS, bench=True),
    Entry("orphan_orders", q_orphan_orders, SQL_ORPHAN_ORDERS),
    Entry("paragraph_dedup_docs", q_paragraph_dedup_docs, SQL_PARAGRAPH_DEDUP_DOCS, bench=True),
    Entry("dup_key_exemplars", q_dup_key_exemplars, SQL_DUP_KEY_EXEMPLARS, bench=True),
    Entry("stats_profile", q_stats_profile, SQL_STATS_PROFILE, bench=True),
    Entry("profile_exact_orders", q_profile_exact_orders, SQL_PROFILE_EXACT_ORDERS, bench=True),
    Entry("dedup_key_count", q_dedup_key_count, SQL_DEDUP_KEY_COUNT, bench=True),
    Entry("lang_histogram", q_lang_histogram, SQL_LANG_HISTOGRAM, bench=True),
    Entry("divergence_docs_stats", q_divergence_docs_stats, SQL_DIVERGENCE_DOCS_STATS, bench=True),
    Entry("topk_events_per_user", q_topk_events_per_user, SQL_TOPK_EVENTS_PER_USER, bench=True),
    Entry("set_ops_customers", q_set_ops_customers, SQL_SET_OPS_CUSTOMERS),
    Entry("events_json_props", q_events_json_props, SQL_EVENTS_JSON_PROPS, bench=True),
    Entry("ngram_jaccard_docs", q_ngram_jaccard_docs, SQL_NGRAM_JACCARD),
    Entry("text_profile_docs", q_text_profile_docs, SQL_TEXT_PROFILE, bench=True),
    Entry("dup_span_docs", q_dup_span_docs, SQL_DUP_SPAN_DOCS, bench=True),
    Entry("winnow_docs", q_winnow_docs, SQL_WINNOW_DOCS, bench=True),
    Entry("repetition_docs", q_repetition_docs, SQL_REPETITION_DOCS, bench=True),
    Entry("curate_documents", q_curate_documents, _sql_curate_documents(), bench=True),
    Entry("token_topk_docs", q_token_topk_docs, SQL_TOKEN_TOPK_DOCS, bench=True),
    Entry("chunk_docs", q_chunk_docs, SQL_CHUNK_DOCS, bench=True),
    Entry("tfidf_topterms_docs", q_tfidf_topterms_docs, SQL_TFIDF_TOPTERMS_DOCS, bench=True),
    Entry("pack_docs", q_pack_docs, SQL_PACK_DOCS, bench=True),
    Entry("mix_quota_docs", q_mix_quota_docs, _sql_mix_quota_docs(), bench=True),
    Entry("range_view_error", q_range_view_error, SQL_RANGE_VIEW_ERROR, bench=True),
    Entry("validate_documents", q_validate_documents, SQL_VALIDATE_DOCUMENTS, bench=True),
    Entry("json_violation_pointers", q_json_violation_pointers, SQL_JSON_VIOLATION_POINTERS, bench=True),
    Entry("q1_pricing_summary", q1_pricing_summary, SQL_Q1, bench=True),
    Entry("stream_files_verdicts", q_stream_files_verdicts, SQL_STREAM_FILES_VERDICTS, bench=True),
    Entry("curate_full_docs", q_curate_full_docs, _sql_curate_full(), bench=True),
    Entry("dedup_exact_documents", q_dedup_exact_documents, SQL_DEDUP_EXACT_DOCUMENTS, bench=True),
    Entry("q3_shipping_priority", q3_shipping_priority, SQL_Q3_SHIPPING_PRIORITY, bench=True),
    Entry("quality_pct_docs", q_quality_pct_docs, _sql_quality_pct(), bench=True),
    Entry("rollup_order_margins", q_rollup_order_margins, SQL_ROLLUP_ORDER_MARGINS),
    Entry("cube_order_stats", q_cube_order_stats, SQL_CUBE_ORDER_STATS, bench=True),
    Entry("outliers_order_price", q_outliers_order_price, SQL_OUTLIERS_ORDER_PRICE, bench=True),
    Entry("top10_orders", q_top10_orders, SQL_TOP10_ORDERS),
    Entry("orders_by_month", q_orders_by_month, SQL_ORDERS_BY_MONTH),
    Entry("quality_docs", q_quality_docs, SQL_QUALITY_DOCS),
    Entry("langid_docs", q_langid_docs, SQL_LANGID_DOCS),
    Entry("lexdiv_docs", q_lexdiv_docs, SQL_LEXDIV_DOCS, bench=True),
    Entry("decontaminate_docs", q_decontaminate_docs, SQL_DECONTAMINATE_DOCS, bench=True),
    Entry("redact_docs", q_redact_docs, SQL_REDACT_DOCS, bench=True),
    Entry("blocklist_docs", q_blocklist_docs, SQL_BLOCKLIST_DOCS, bench=True),
    Entry("length_band_docs", q_length_band_docs, SQL_LENGTH_BAND_DOCS, bench=True),
    Entry("mix_interleave_docs", q_mix_interleave_docs, SQL_MIX_INTERLEAVE_DOCS, bench=True),
    Entry("shuffle_shard_docs", q_shuffle_shard_docs, SQL_SHUFFLE_SHARD_DOCS, bench=True),
    Entry("multimodal_resize", q_multimodal_resize, SQL_MULTIMODAL_RESIZE, bench=True),
    Entry(
        "validate_files_200k", q_validate_files_200k,
        rows_only="input is synthesized, not an sf table", bench=True,
    ),
    Entry(
        "generate_confusion_fixtures", q_generate_confusion_fixtures,
        rows_only="sample generation has no SQL dual; see tests/test_jsonschema_oracle.py", bench=True,
    ),
    Entry(
        "generate_cover_fixtures", q_generate_cover_fixtures,
        rows_only="sample generation has no SQL dual; see tests/test_pathcover.py",
    ),
    Entry(
        "multimodal_real_decode", q_multimodal_real_decode,
        rows_only="DuckDB cannot decode BMP/PNG/WAV; tests/test_codecs.py re-decodes",
    ),
    Entry("stream_sessionize_events", q_stream_sessionize_events, SQL_STREAM_SESSIONIZE_EVENTS, bench=True),
    Entry("funnel_events", q_funnel_events, SQL_FUNNEL_EVENTS, bench=True),
    Entry("retention_events", q_retention_events, SQL_RETENTION_EVENTS, bench=True),
    Entry("embedding_topk", q_embedding_topk, SQL_EMBEDDING_TOPK, bench=True),
    Entry("embedding_near_dup", q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    Entry("embedding_near_dup_lsh", q_embedding_near_dup_lsh, SQL_EMBEDDING_NEAR_DUP_LSH, bench=True),
    Entry("embedding_vector_stats", q_embedding_vector_stats, SQL_EMBEDDING_VECTOR_STATS),
    Entry("simhash_docs", q_simhash_docs, SQL_SIMHASH),
    Entry("violations_events_props", q_violations_events_props, SQL_VIOLATIONS_EVENTS_PROPS, bench=True),
    Entry("validate_dynamic_tree", q_validate_dynamic_tree, SQL_VALIDATE_DYNAMIC_TREE, bench=True),
    Entry("xsd_violation_paths", q_xsd_violation_paths, SQL_XSD_VIOLATION_PATHS, bench=True),
    Entry("grammar_number_docs", q_grammar_number_docs, SQL_GRAMMAR_NUMBER_DOCS, bench=True),
    Entry("openapi_requests", q_openapi_requests, SQL_OPENAPI_REQUESTS, bench=True),
    Entry("content_b64_docs", q_content_b64_docs, SQL_CONTENT_B64_DOCS),
    Entry("minhash_lsh_docs", q_minhash_lsh_docs, _sql_minhash(), bench=True),
    Entry("ann_ivf_topk", q_ann_ivf_topk, SQL_ANN_IVF_TOPK, bench=True),
    Entry("sessionize_events", q_sessionize_events, SQL_SESSIONIZE_EVENTS, bench=True),
    Entry("asof_click_purchase", q_asof_click_purchase, SQL_ASOF_CLICK_PURCHASE, bench=True),
    Entry("drift_docs_stats", q_drift_docs_stats, SQL_DRIFT_DOCS_STATS),
    Entry("stream_drift_events", q_stream_drift_events, SQL_STREAM_DRIFT_EVENTS, bench=True),
    Entry("sample_documents", q_sample_documents, SQL_SAMPLE_DOCUMENTS),
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {e.name: e.build for e in ENTRIES}
ORACLE_SQL: dict[str, str] = {e.name: e.oracle for e in ENTRIES if e.oracle is not None}
