"""Custom stateful streaming operator via ``applyInPandasWithState``:
running per-stratum corpus accounting (SURVEY.md §2.B UDF row — the
"custom stateful operator" escape hatch the task brief names for
semantics Spark's built-in streaming aggregates can't express; the
reference itself is fully batch).

The built-in streaming aggregation could keep running counts, but not
arbitrary state transitions; this operator demonstrates the general
pattern with explicitly managed state:

- **state** is one small tuple per stratum (doc count, token count,
  quality sum) — bounded by stratum cardinality (languages/sources),
  NOT by stream length; for unbounded key spaces set a
  ``GroupStateTimeout`` so idle keys evict.
- **the Python boundary carries 3 small numeric columns**, never the
  document text: tokens and quality are computed JVM-side
  (`operators/text` Column algebra) before ``groupBy``, so Arrow
  batches are tiny and the per-row work stays in codegen.
- emitted rows are the cumulative totals per stratum per micro-batch
  (update semantics), overwriting the epoch's ``epoch_id=<n>/``
  partition so the sink is idempotent under micro-batch replay.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fences_spark.operators.text import quality_score, whitespace_token_count
from fences_spark.streaming.drift import reset_stale_epochs

OUTPUT_SCHEMA = (
    "stratum string, n_docs long, n_tokens long, mean_quality double"
)
STATE_SCHEMA = "n long, toks long, qsum double"


@dataclass
class StatefulStreamConfig:
    output_dir: str

    @property
    def stats_path(self) -> str:
        return os.path.join(self.output_dir, "running_stats")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.output_dir, "running_stats_ckpt")


def _update_totals(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, toks, qsum = state.get if state.exists else (0, 0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        toks += int(pdf["n_tokens"].sum())
        qsum += float(pdf["quality"].sum())
    state.update((n, toks, qsum))
    yield pd.DataFrame(
        {
            "stratum": [key[0]],
            "n_docs": [n],
            "n_tokens": [toks],
            "mean_quality": [round(qsum / n, 6) if n else 0.0],
        }
    )


def running_corpus_stats(
    stream_df: DataFrame,
    *,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(stratum, n_docs, n_tokens, mean_quality) — cumulative totals
    per stratum, one row per stratum per micro-batch that touched it."""
    feats = stream_df.select(
        F.col(strata_col).alias("stratum"),
        whitespace_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        quality_score(F.col(text_col)).alias("quality"),
    )
    return feats.groupBy("stratum").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_running_stats_stream(
    stream_df: DataFrame, cfg: StatefulStreamConfig, **kwargs
) -> StreamingQuery:
    """Drain available input through the stateful accounting operator;
    each micro-batch's cumulative rows overwrite its epoch's partition."""
    out = running_corpus_stats(stream_df, **kwargs)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(cfg.stats_path, f"epoch_id={epoch_id}")
        )

    reset_stale_epochs(stream_df.sparkSession, cfg.stats_path, cfg.checkpoint_path)
    return (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", cfg.checkpoint_path)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
