"""Operator-level parity tests against the reference ports."""

from __future__ import annotations

import numpy as np
import pandas as pd

from dataflow_mm_lrt_spark.operators import assembly, dedup, multimodal, ranking
from dataflow_mm_lrt_spark.oracle import reference_port as ref
from media_fixtures import fake_media_df


def test_assembly_catalyst_matches_reference_port(spark, transcripts_df, transcripts_pdf):
    got = (
        assembly.assemble_conversations(transcripts_df)
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    # reference port per conversation (conversation_to_message.py:49-104)
    for conv_id, grp in transcripts_pdf.groupby("conv_id"):
        grp = grp[grp.role != "system"].sort_values(["turn_idx", "ts"])
        exp = ref.conversation_to_messages(list(zip(grp.role, grp.text)))
        g = got.loc[conv_id]
        g_msgs = [{"role": m["role"], "content": m["content"]} for m in g["messages"]]
        assert g_msgs == exp, conv_id


def test_exact_keep_first_matches_sequential_semantics(spark, transcripts_pdf):
    """Distributed keep-first == the reference's sequential first-seen-wins
    when 'first' is the stable (conv_id, turn_idx) order
    (image_diversity_filter.py:20-34)."""
    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    expected_keep = ref.keep_first_dedup(pdf["text"])
    kept_ids = set(pdf.index[expected_keep])

    sdf = spark.createDataFrame(pdf.reset_index().rename(columns={"index": "rid"}))
    got = dedup.exact_keep_first(
        sdf, text_col="text", order_cols=("conv_id", "turn_idx", "rid")
    ).toPandas()
    assert set(got["rid"]) == kept_ids


def test_answer_evaluator_reference_port():
    cases = [
        ("<answer>B</answer>", "<answer>B</answer>", "multiple choice", 1.0),
        ("<answer>B</answer>", "<answer>C</answer>", "multiple choice", 0.0),
        ("<answer>3.14</answer>", "<answer>3.14159</answer>", "numerical", 1.0),
        ("<answer>3.14</answer>", "<answer>3.15</answer>", "numerical", 0.0),
        ("<answer>3</answer>", "<answer>3.0</answer>", "numerical", 0.0),
        ("<answer>a b c</answer>", "<answer>a b c</answer>", "OCR", 1.0),
        ("<answer>a b c d</answer>", "<answer>a b x d</answer>", "OCR", 0.75),
        ("<answer>10</answer>", "<answer>11</answer>", "regression", 0.9),
    ]
    for gt, out, qt, want in cases:
        got = ref.calculate_reward(gt, out, qt)
        assert abs(got - want) < 1e-6, (gt, out, qt, got, want)


def test_score_filter_marks_not_drops(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "score": [0.1, 0.5, 0.9]})
    )
    out = ranking.score_filter(df, min_score=0.3, max_score=0.8).toPandas()
    assert len(out) == 3
    assert out.sort_values("id")["select"].tolist() == [False, True, False]


def test_keep_top_fraction(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(10), "score": [i * 1.0 for i in range(10)]})
    )
    out = ranking.keep_top_fraction(df, "score", keep_ratio=0.5, tie_col="id").toPandas()
    # percent_rank ≤ 0.5 over 10 rows keeps 5 = int(n·ratio), the
    # reference's keep-fraction count (clipscore_filter.py keep_ratio)
    assert sorted(out["id"]) == [5, 6, 7, 8, 9]


def test_multimodal_feature_stub_deterministic(spark):
    media = fake_media_df(spark, n=16)
    a = multimodal.extract_features(media, fake=True).toPandas().set_index("media_id")
    b = multimodal.extract_features(media, fake=True).toPandas().set_index("media_id")
    for mid in a.index:
        assert np.allclose(a.loc[mid, "feature"], b.loc[mid, "feature"])
    assert (a["n_bytes"] > 0).all()


def test_multimodal_real_decode_raises(spark):
    """Undecodable bytes (not PPM/BMP/WAV/P6-stream, no optional libs)
    raise CodecUnavailable on the real path (r3: uncompressed formats
    now decode for real — see tests/test_codecs.py)."""
    media = fake_media_df(spark, n=2)  # garbage bytes
    try:
        multimodal.extract_features(media, fake=False).collect()
        raise AssertionError("expected CodecUnavailable from unknown bytes")
    except Exception as e:  # Py4J wraps the worker exception
        assert "CodecUnavailable" in str(e)  # any kind's task may surface first
