"""Conversation assembly (SURVEY.md §2.5) — the Conversation2Message
semantics (conversation_to_message.py:49-104) as a distributed group-by.

Two equivalent forms:

* ``assemble_conversations`` — pure Catalyst: collect turn structs per
  conversation, sort by (turn_idx, ts) inside the array (stable order
  without a global sort), build the nested messages array with
  higher-order functions. One shuffle on conv_id; partial aggregation
  applies map-side; no Python.
* ``assemble_conversations_pandas`` — the same semantics through
  ``applyInPandas`` (Arrow-batched), kept as the template the streaming
  stateful stage builds on, and as a second implementation the tests
  diff against the Catalyst form.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from ..functions.normalize import strip_multimodal_tokens_sql
from ..oracle.reference_port import conversation_to_messages

SYSTEM_PROMPT = "You are a helpful agent."

MESSAGES_SCHEMA = ArrayType(
    StructType(
        [
            StructField("role", StringType()),
            StructField("content", StringType()),
        ]
    )
)


def assemble_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    system_prompt: str = SYSTEM_PROMPT,
) -> DataFrame:
    """Per conversation: ordered (turn_idx, ts) turn list → messages array.

    Role mapping 'human'→'user' else 'assistant'
    (conversation_to_message.py:76); multimodal-token strip + newline
    collapse (:39-41); empty turns skipped (:98-100); a system turn is
    prepended (:65-70). Source 'system' turns are excluded from the turn
    loop (they are represented by the prepended system message).
    Output: (conv_id, n_turns, messages).
    """
    cleaned = F.expr(strip_multimodal_tokens_sql("spark", "text"))
    turns = df.filter(F.col("role") != "system").select(
        conv_col,
        F.struct(
            F.col("turn_idx"),
            F.col("ts"),
            F.when(F.col("role") == "human", "user")
            .otherwise("assistant")
            .alias("role"),
            cleaned.alias("content"),
        ).alias("turn"),
    )
    sys_msg = F.struct(
        F.lit("system").alias("role"), F.lit(system_prompt).alias("content")
    )
    return (
        turns.groupBy(conv_col)
        .agg(F.collect_list("turn").alias("turns"))
        .select(
            conv_col,
            F.size("turns").alias("n_turns"),
            F.concat(
                F.array(sys_msg),
                F.expr(
                    "transform(filter(array_sort(turns), t -> t.content <> ''), "
                    "t -> struct(t.role as role, t.content as content))"
                ),
            ).alias("messages"),
        )
    )


def assemble_conversations_pandas(
    df: DataFrame,
    conv_col: str = "conv_id",
    system_prompt: str = SYSTEM_PROMPT,
) -> DataFrame:
    """Same semantics via Arrow-batched applyInPandas (grouped-map).

    Reuses the reference-port function so tests can diff the Catalyst
    implementation against the reference behavior directly.
    """
    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("n_turns", StringType()),
            StructField("messages_json", StringType()),
        ]
    )

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import json

        pdf = pdf[pdf["role"] != "system"].sort_values(["turn_idx", "ts"])
        msgs = conversation_to_messages(
            list(zip(pdf["role"], pdf["text"])), system_prompt
        )
        return pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [str(len(pdf))],
                "messages_json": [json.dumps(msgs)],
            }
        )

    return df.groupBy(conv_col).applyInPandas(assemble, schema=out_schema)


def assemble_with_modalities(
    turns: DataFrame,
    modalities: DataFrame,
    conv_col: str = "conv_id",
    system_prompt: str = SYSTEM_PROMPT,
    strict: bool = True,
) -> DataFrame:
    """Conversation2Message with modality splicing
    (conversation_to_message.py:75-95): each turn's ``<image>``/
    ``<video>``/``<audio>`` tokens consume the conversation-level path
    lists IN TURN ORDER; a token beyond the provided paths is a count
    mismatch (the reference raises ValueError).

    Distributed form: per-turn token counts, a prefix-sum window per
    conversation gives each turn's start offset into the path arrays,
    and ``slice()`` splices the paths — the sequential consumption
    loop becomes one window + projection, no Python. ``modalities``:
    (conv_col, image_paths, video_paths, audio_paths array<string>).

    Output: (conv_col, messages array<struct<role, content
    array<struct<type, ref, text>>>>, modality_mismatch bool).
    ``strict=True`` validates eagerly and raises on any mismatch.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(conv_col)
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = turns.filter(F.col("role") != "system")
    for m in ("image", "video", "audio"):
        cnt = F.size(F.split(F.col("text"), f"<{m}>")) - 1
        t = t.withColumn(f"_{m}_cnt", cnt).withColumn(
            f"_{m}_off", F.coalesce(F.sum(f"_{m}_cnt").over(w), F.lit(0))
        )
    cleaned = F.expr(strip_multimodal_tokens_sql("spark", "text"))
    # LEFT join: a conversation with modality tokens but no modalities
    # row must surface as modality_mismatch (reference raises ValueError,
    # conversation_to_message.py:92), not silently vanish; missing path
    # lists behave as empty
    t = t.join(modalities, conv_col, "left")
    for m in ("image", "video", "audio"):
        t = t.withColumn(
            f"{m}_paths",
            F.coalesce(F.col(f"{m}_paths"), F.array().cast("array<string>")),
        )

    def items(m: str) -> str:
        # slice() is lenient past the end — the shortfall IS the
        # mismatch signal (element_at would throw under ANSI mode)
        return (
            f"transform(slice({m}_paths, cast(_{m}_off as int) + 1, cast(_{m}_cnt as int)), "
            f"p -> struct('{m}' as type, p as ref, cast(null as string) as text))"
        )

    content = F.expr(
        "concat(" + ", ".join(items(m) for m in ("image", "video", "audio")) + ")"
    )
    text_item = F.expr(
        "IF(_cleaned <> '', array(struct('text' as type, "
        "cast(null as string) as ref, _cleaned as text)), "
        "array())"
    )
    mismatch = F.expr(
        " OR ".join(
            f"(_{m}_off + _{m}_cnt > size({m}_paths))"
            for m in ("image", "video", "audio")
        )
    )
    rows = (
        t.withColumn("_cleaned", cleaned)
        .withColumn("_content", F.concat(content, text_item))
        .withColumn("_mismatch", mismatch)
        .select(
            conv_col,
            "turn_idx",
            F.when(F.col("role") == "human", "user")
            .otherwise("assistant")
            .alias("_role"),
            "_content",
            "_mismatch",
        )
    )
    sys_msg = (
        "struct('system' as role, array(struct('text' as type, "
        f"cast(null as string) as ref, {_sql_lit(system_prompt)} as text)) as content)"
    )
    out = (
        rows.groupBy(conv_col)
        .agg(
            F.expr(
                "concat("
                f"array({sys_msg}), "
                "transform(filter(array_sort(collect_list(struct(turn_idx, _role, _content))), "
                "s -> size(s._content) > 0), "
                "s -> struct(s._role as role, s._content as content)))"
            ).alias("messages"),
            F.max("_mismatch").alias("modality_mismatch"),
        )
    )
    if strict:
        bad = out.filter(F.col("modality_mismatch")).limit(1).collect()
        if bad:
            raise ValueError(
                f"modality token count exceeds provided paths for "
                f"{conv_col}={bad[0][conv_col]!r} (conversation_to_message.py:92)"
            )
    return out


def _sql_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
