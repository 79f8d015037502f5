"""Deterministic sampling for training-data curation.

``df.sample()`` is seed-dependent per partition-split and not
reproducible across engines or cluster sizes; curation pipelines at
10^12 rows need samples that are (a) stable under re-partitioning and
resume, (b) auditable (membership is a pure function of the key), and
(c) recomputable by an external oracle.  Both properties come from
**hash-threshold sampling**: keep a row iff the first 4 hex chars of
``md5(key)`` fall below a threshold derived from the fraction.
Lexicographic compare on fixed-length lowercase hex == numeric
compare, so the predicate is a codegen'd string comparison — no UDF,
no shuffle, fully pushed into the scan's filter stage.

(The reference's randomness is generation-side only —
fences/core/random.py — with no sampling operator; this is engine
infrastructure the north-rule pipeline needs.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_SPACE = 16 ** 4  # first 4 hex chars


def hash_bucket(key: Column) -> Column:
    """First 4 hex chars of md5(key-as-string) — a uniform bucket in
    '0000'..'ffff', identical in Spark and DuckDB."""
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, 4)


def threshold_hex(fraction: float) -> str:
    """Threshold t such that P(bucket < t) ≈ fraction under
    lexicographic compare of the fixed-width hex bucket.  fraction=1.0
    must keep everything, so it maps to a sentinel above every hex
    string ('g' > 'f'); "10000" would sort BEFORE "ffff" and silently
    drop ~94% of rows."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    n = int(fraction * _SPACE)
    if n >= _SPACE:
        return "g"
    return format(n, "04x")


def deterministic_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, membership a pure function of the key
    (stable across partitioning, cluster size, resume)."""
    return df.filter(hash_bucket(F.col(key_col)) < F.lit(threshold_hex(fraction)))


def stratified_sample(
    df: DataFrame, key_col: str, strata_col: str, fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum hash-threshold sampling (the deterministic
    ``sampleBy``): fractions maps stratum value → keep fraction."""
    thr: Column = F.lit(threshold_hex(default_fraction))
    for value, frac in fractions.items():
        thr = F.when(F.col(strata_col) == value, F.lit(threshold_hex(frac))).otherwise(thr)
    return df.filter(hash_bucket(F.col(key_col)) < thr)

# ---------------------------------------------------------------------------
# mixture quota sampling (per-stratum quality top-k)
# ---------------------------------------------------------------------------


def quality_quota_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    strata_col: str,
    *,
    quota: int = 50,
) -> DataFrame:
    """(doc_id, stratum, quality, rnk) — the ``quota`` highest-quality
    documents per stratum (e.g. per language): the data-mixture
    curation step that caps each source/language at a fixed budget of
    its best documents.  No reference precedent (training-data
    mixture, SURVEY.md §2.F).

    Execution shape — SKEW-BOUNDED two-phase top-k: quality is
    per-row Column algebra (`operators.text.quality_score`, 6-dp
    rounded so ordering is bit-identical cross-engine); phase 1 ranks
    within (stratum, salt) where salt = hash(doc_id) % salt_parts —
    a dominant stratum is spread over ``salt_parts`` reducers instead
    of serializing into one — and keeps each group's top ``quota``;
    phase 2 is the final window over at most salt_parts × quota rows
    per stratum.  Every global top-quota row is in the top quota of
    its own salt group (its global betters are a superset of its
    in-group betters), so the result is EXACTLY the single-window
    answer, with a deterministic tie-break (quality desc, doc_id
    asc).  Max reducer load: rows(stratum)/salt_parts in phase 1,
    salt_parts×quota in phase 2 — both flat in corpus size.
    Skew-gated in fences_spark.skewbench (quota_topk row)."""
    from pyspark.sql import Window

    from fences_spark.operators.text import quality_score

    salt_parts = 64
    w1 = Window.partitionBy("stratum", "salt").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    w = Window.partitionBy("stratum").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("stratum"),
            quality_score(F.col(text_col)).alias("quality"),
        )
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_parts))
        )
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= quota)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= quota)
        .select("doc_id", "stratum", "quality", "rnk")
    )

# ---------------------------------------------------------------------------
# deterministic training-order shuffle (shard + intra-shard rank)
# ---------------------------------------------------------------------------


def shuffle_shards(
    df: DataFrame, key_col: str, *, n_shards: int = 8, salt: str = "shuf42"
) -> DataFrame:
    """(doc_id, shard, rnk) — a reproducible global shuffle of the
    corpus into ``n_shards`` training shards with a total order inside
    each shard: the "shuffle the data before training" step, made a
    pure function of (salt, key) so any engine — and any re-run after
    resume — derives the identical order.  No reference precedent
    (the reference's randomness is generation-side, core/random.py;
    SURVEY.md §2.F).

    Execution shape: the sort key is a 60-bit md5 long of
    ``salt#key``; shard = hash % n_shards, rank = row_number per
    shard ordered by (hash, key).  ONE shuffle on the shard id; each
    shard sorts independently in its own task, so parallelism — and
    max shard size — is set by ``n_shards``: at 10^12 rows raise
    n_shards until a shard fits a task (shards are hash-balanced by
    construction).  Writing shard-partitioned output preserves the
    rank order as the training stream order.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        df.select(F.col(key_col).alias("doc_id"), h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
        .withColumn("rnk", F.row_number().over(w))
        .select("doc_id", "shard", "rnk")
    )

# ---------------------------------------------------------------------------
# deterministic weighted interleave (mixture scheduling)
# ---------------------------------------------------------------------------


def weighted_interleave(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weights: dict[str, int],
    *,
    salt: str = "mix42",
) -> DataFrame:
    """(doc_id, stratum, pos) — a reproducible global training order
    that interleaves strata (sources/languages) at integer weight
    ratios: every block of ``W = sum(weights)`` consecutive positions
    contains ``weights[s]`` slots of stratum ``s``.  This is the data-
    mixing schedule of a pretraining pipeline (sample source s with
    probability w_s/W) made exactly reproducible — no RNG, no floats.
    No reference precedent (SURVEY.md §2.F).

    Position formula (integer-only, so any engine derives the same
    order): with r = the document's 0-based hash rank inside its
    stratum, ``pos = (r div w_s)·W + offset_s + (r mod w_s)`` where
    offset_s is the cumulative weight of the strata listed before s.
    Positions are globally unique; when a stratum runs out of
    documents its later slots are simply absent (standard mixture
    behavior — consumers read in pos order).

    Strata absent from ``weights`` are dropped (weight 0).

    Execution shape: ONE shuffle on the stratum key for the
    per-stratum ``row_number`` (rank by salted 60-bit md5, doc-id
    tie-break); the position arithmetic is a narrow projection.
    Stratum skew caveat as in :func:`quality_quota_sample`: one
    giant stratum serializes its own ranking — pre-shard such a
    stratum into sub-strata with proportionally split weights.
    """
    from pyspark.sql import Window

    if not weights or any(w <= 0 or w != int(w) for w in weights.values()):
        raise ValueError("weights must be positive integers")
    total = sum(weights.values())
    offsets: dict[str, int] = {}
    acc = 0
    for s, w in weights.items():
        offsets[s] = acc
        acc += w

    # h is computed inside the same select that renames key_col, so it
    # resolves against the ORIGINAL column for any key_col name
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w_col = F.create_map(*[x for s, w in weights.items()
                           for x in (F.lit(s), F.lit(int(w)))])[F.col("stratum")]
    off_col = F.create_map(*[x for s, o in offsets.items()
                             for x in (F.lit(s), F.lit(o))])[F.col("stratum")]
    win = Window.partitionBy("stratum").orderBy("h", "doc_id")
    return (
        df.select(
            F.col(key_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            h.alias("h"),
        )
        .filter(F.col("stratum").isin(list(weights)))
        .withColumn("r", F.row_number().over(win) - 1)
        .select(
            "doc_id",
            "stratum",
            (
                F.floor(F.col("r") / w_col) * total
                + off_col
                + F.pmod(F.col("r"), w_col)
            ).cast("long").alias("pos"),
        )
    )

# ---------------------------------------------------------------------------
# per-stratum quality percentile (cross-stratum-comparable ranking)
# ---------------------------------------------------------------------------


def quality_percentiles(
    df: DataFrame, id_col: str, text_col: str, strata_col: str,
) -> DataFrame:
    """(doc_id, stratum, quality, pct) — each document's quality
    PERCENTILE WITHIN ITS STRATUM (language/source): the
    normalization that makes quality thresholds comparable across
    strata whose raw score distributions differ (a fixed global
    cutoff over-prunes whole languages; "top 30% of each language"
    does not).  No reference precedent (SURVEY.md §2.F).

    ``pct`` is `percent_rank` — (rank−1)/(n−1), 0 for the worst, 1
    for the best — over (quality asc, doc_id asc), the deterministic
    tie-break making the value engine-exact.  The ratio is emitted
    UN-rounded: rank and n are identical integers in any engine, so
    the IEEE division is bit-identical — whereas rounding it to 6 dp
    is NOT (engines disagree on decimal ties: Spark rounds the exact
    binary value, DuckDB scales-then-rounds; observed one row in 5000
    differing at the 6th dp).

    Execution shape — SKEW-BOUNDED exact rank via bucket offsets: a
    single window per stratum would sort a dominant language in one
    reducer, so instead quality is quantized into ``buckets``
    monotone bins and

      rank = (rows of the stratum in LOWER buckets)   [broadcast join]
           + row_number within (stratum, bucket)      [window]

    which equals the single-window rank exactly because the bin is
    monotone in the sort key (quality asc, doc_id asc breaks ties
    only within a bin).  Max reducer load: rows(stratum)/buckets for
    the window; the offsets relation is |strata|×buckets rows,
    broadcast (drop the hint if strata cardinality is extreme).  The
    quality expression is evaluated on both branches; to scan and score
    the corpus ONCE use ``quality_percentiles_staged``.  pct for a
    single-row stratum is 0.0 (percent_rank's convention).
    Skew-gated in fences_spark.skewbench (stratum_percentile row).
    """
    return _assemble_percentiles(_percentile_base(df, id_col, text_col, strata_col))


def quality_percentiles_staged(
    df: DataFrame, id_col: str, text_col: str, strata_col
):
    """``quality_percentiles`` over a persisted narrow (doc_id, stratum,
    quality, b) projection — ~30 bytes/row, no document text, memory
    with disk spill — so both branches read it and the corpus is
    scanned and scored ONCE, the right trade at 100 TB.  Returns
    ``(result, release)`` where ``release()`` unpersists the staged
    projection once the caller's action (a parquet write, a collect)
    has completed.  This is the form a
    pipeline that owns the session should use — one corpus scan, no
    cache left behind (run/pipeline.py wires it for the quality-band
    stage).  ``strata_col`` may be a column name or a Column
    expression (e.g. ``F.lit("all")`` for a single global stratum).
    """
    from pyspark import StorageLevel

    base = _percentile_base(df, id_col, text_col, strata_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _assemble_percentiles(base), base.unpersist


_PCT_BUCKETS = 1024


def _percentile_base(
    df: DataFrame, id_col: str, text_col: str, strata_col
) -> DataFrame:
    """Narrow (doc_id, stratum, quality, b) projection shared by every
    quality_percentiles entry point; ``strata_col`` is a column name
    or a Column expression.  The bucket id is monotone in quality with
    NULLs first (b=-1), matching percent_rank's NULLS FIRST order."""
    from fences_spark.operators.text import quality_score

    stratum = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    return df.select(
        F.col(id_col).alias("doc_id"),
        stratum.alias("stratum"),
        quality_score(F.col(text_col)).alias("quality"),
    ).withColumn(
        "b",
        F.when(F.col("quality").isNull(), F.lit(-1))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(_PCT_BUCKETS - 1),
                    F.floor(F.col("quality") * _PCT_BUCKETS),
                ),
            )
        )
        .cast("int"),
    )


def _assemble_percentiles(base: DataFrame) -> DataFrame:
    """Bucket-offset exact rank over a (doc_id, stratum, quality, b)
    frame — the skew-bounded assembly shared by the plan-pure and
    staged entry points."""
    from pyspark.sql import Window

    woff = Window.partitionBy("stratum").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        base.groupBy("stratum", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "stratum",
            "b",
            F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("below"),
            F.sum("cnt").over(Window.partitionBy("stratum")).alias("n"),
        )
    )
    wloc = Window.partitionBy("stratum", "b").orderBy(F.col("quality"), F.col("doc_id"))
    pct = F.when(
        F.col("n") > 1,
        (F.col("below") + F.col("lrnk") - 1).cast("double") / (F.col("n") - 1),
    ).otherwise(F.lit(0.0))
    return (
        base.withColumn("lrnk", F.row_number().over(wloc))
        .join(F.broadcast(offsets), ["stratum", "b"])
        .select("doc_id", "stratum", "quality", pct.alias("pct"))
    )
