"""Row-expansion stages (SURVEY.md §2.6) — 1 row → N rows.

The reference's TimestampChunkRowGenerator
(audio_timestamp_chunk_row_generator.py:181-221) slices media by
timestamp lists; its text-domain analogue here slices documents into
sentence chunks. Cardinality-raising is plain ``explode`` (with
``posexplode`` for the stable chunk index) — no multiprocessing pools.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """Split text on sentence punctuation; one output row per non-empty
    trimmed sentence with its position. (doc_id, chunk_idx, sentence)."""
    sentences = F.expr(
        f"filter(transform(split({text_col}, '[.!?]'), s -> trim(s)), "
        f"s -> length(s) >= {min_len})"
    )
    return df.select(
        id_col, F.posexplode(sentences).alias("chunk_idx", "sentence")
    )
