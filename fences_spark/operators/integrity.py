"""Uniqueness + referential-integrity operators (north rule,
BASELINE.json:6): dedup on (repo,path,commit) with skew-aware
repartitioning, referential repo→commit via broadcast hash join.

Spark-first notes on the north rule's "salted repartition +
sort-merge dedup":

- *Counting* duplicates needs no salt: ``groupBy(keys).count()`` does
  map-side partial aggregation, so a hot key contributes one partial
  row per input partition — the shuffle is already balanced.
- *Materializing* the deduplicated table is where skew bites: the
  classic form ``Window.partitionBy(keys)`` puts one hot key on one
  reducer.  ``dedup_exact`` therefore pre-aggregates with an explicit
  salt (repartition on keys+salt, per-salt-bucket min-hash pick, then
  a tiny second aggregation over #salts rows per key), which bounds
  any single reducer at rows/salt_buckets — the salted-repartition
  pattern the rule names, expressed as two map-side-combinable aggs
  instead of a sort.  AQE skew-join handles residual imbalance.
- Referential: dims ≤ broadcast threshold go broadcast-hash
  (zero shuffle of the fact table); bigger dims fall back to
  shuffled sort-merge with AQE (pass ``broadcast_dim=False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys occurring more than once: (keys…, n_copies)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def duplicate_exemplars(df: DataFrame, keys: list[str], order_by: str) -> DataFrame:
    """The extra copies (rank > 1 within each dup key) — exact
    violation rows for the uniqueness rule."""
    w = W.partitionBy(*keys).orderBy(order_by)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .drop("rn")
    )


def dedup_exact(df: DataFrame, keys: list[str], *, salt_buckets: int = 16,
                tie_breaker: str | None = None) -> DataFrame:
    """Keep exactly one row per key, skew-bounded.

    Deterministic winner: the row with the smallest
    ``xxhash64(to_json(struct(*)))`` (or smallest ``tie_breaker``
    column).  Phase 1 repartitions on (keys, salt) — salt derived
    from the full row hash so copies of a hot key spread over
    ``salt_buckets`` reducers — and picks one winner per salted
    bucket with ``min_by``.  Phase 2 re-aggregates the ≤salt_buckets
    survivors per key.  Both phases are hash aggregations with
    map-side combine; no sort, no window over a hot key."""
    order_col = (
        F.col(tie_breaker) if tie_breaker
        else F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    )
    salted = df.withColumn("__ord", order_col).withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    )
    payload = F.struct(*[F.col(c) for c in df.columns])
    # groupBy(keys, salt) hash-partitions the shuffle on the salted
    # key itself (an explicit repartition first would just add a
    # second identical shuffle), with map-side combine before it
    phase1 = (
        salted.groupBy(*keys, "__salt")
        .agg(F.min_by(payload, F.col("__ord")).alias("__row"), F.min("__ord").alias("__ord"))
    )
    phase2 = (
        phase1.groupBy(*keys)
        .agg(F.min_by(F.col("__row"), F.col("__ord")).alias("__row"))
        .select("__row.*")
    )
    return phase2


def referential_orphans(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    *,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact rows whose key tuple is absent from the dim (NOT EXISTS).
    Broadcast hash join by default — the fact table never shuffles;
    ``broadcast_dim=False`` → shuffled sort-merge with AQE for dims
    beyond the broadcast threshold."""
    d = dim.select(*keys).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    return facts.join(d, keys, "left_anti")

