"""End-to-end streaming pipeline runner (SURVEY.md §7.1).

    transcripts stream
      → S1 normalize (multimodal-token strip; Catalyst)
      → S2 RuleBaseFilter text-quality keep (Catalyst)
      → S3 role/tool filter (Catalyst)
      → fingerprint (Catalyst md5; feeds S4 dedup)
      → S4+S6 ordered assembly + keyed keep-first dedup
              (applyInPandasWithState sorted-run state, watermark-evicted)
      → S9 exactly-once manifest sink (foreachBatch, one commit
              manifest per epoch)

The same stage functions run under ``readStream`` (here) and plain
``read`` (batch parity tests). ``availableNow`` drains the bounded
source; re-running with the same checkpoint resumes from state.
``run_pipeline`` always records per-batch progress (streaming/metrics.py)
and waits for the drain to finish.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_rules import keep_sql
from ..functions.normalize import strip_multimodal_tokens_sql
from .metrics import ProgressRecorder
from .sink import ManifestSink
from .source import transcript_stream
from .stateful import (
    DEFAULT_ORDER_SLACK_MS,
    DEFAULT_STATE_TTL_MS,
    ordered_assembly,
    with_fingerprint,
)


@dataclass(frozen=True)
class PipelineConfig:
    watermark_delay: str = "10 minutes"
    order_slack_ms: int = DEFAULT_ORDER_SLACK_MS
    state_ttl_ms: int = DEFAULT_STATE_TTL_MS
    roles: tuple[str, ...] = ("system", "human", "assistant")
    keep_tools: tuple[str, ...] = ("search", "python", "browser")
    max_files_per_trigger: int = 1
    #: not-None adds the trailing-corpus SimHash near-dup gate
    #: (streaming/neardup.py semantics — the reference's sequential
    #: corpus-gated dedup, keyed by conv_id, bounded ring state) to the
    #: assembly operator's emission path at this Hamming threshold.
    #: None (default) keeps exact fingerprint dedup only.
    neardup_threshold: int | None = None


def clean_stages(turns: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S1–S3 + fingerprint: stateless, identical for batch & streaming."""
    cleaned = turns.withColumn(
        "text", F.expr(strip_multimodal_tokens_sql("spark", "text"))
    )
    kept = cleaned.filter(F.expr(keep_sql("spark", "text")))
    role_pred = F.col("role").isin(*cfg.roles) | (
        (F.col("role") == "tool") & F.col("tool").isin(*cfg.keep_tools)
    )
    return with_fingerprint(kept.filter(role_pred))


def build_pipeline(turns: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Full S1→S6 dataflow on a (streaming or batch) turns DataFrame."""
    # the near-dup gate folds into ordered_assembly's state (Spark
    # allows ONE applyInPandasWithState per streaming query); only the
    # Catalyst simhash column is computed here when enabled
    return ordered_assembly(
        clean_stages(turns, cfg),
        watermark_delay=cfg.watermark_delay,
        order_slack_ms=cfg.order_slack_ms,
        state_ttl_ms=cfg.state_ttl_ms,
        neardup_threshold=cfg.neardup_threshold,
    )


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
):
    """availableNow drain of the transcript directory into the
    exactly-once sink, recording per-batch progress to
    ``<out_dir>/metrics/metrics.jsonl``. Returns (sink, query)."""
    src = transcript_stream(
        spark, input_path, max_files_per_trigger=cfg.max_files_per_trigger
    )
    out = build_pipeline(src, cfg)
    sink = ManifestSink(os.path.join(out_dir, "sink"))
    recorder = ProgressRecorder.attach(spark, os.path.join(out_dir, "metrics"))
    try:
        query = (
            out.writeStream.outputMode("append")
            .foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        recorder.wait_terminated()  # listener bus drains async
        recorder.detach()
    return sink, query
