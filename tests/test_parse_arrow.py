"""The batch pipeline's narrowed Arrow parse stage."""

import pandas as pd


def test_parse_stage_pipeline_narrow(spark, fixture_df):
    """parse_stage_pipeline == parse_stage minus PIPELINE_DROP: same rows,
    same values in every kept column, and none of the dropped columns in the
    schema (the Arrow stage must drop them inside the exchange without
    disturbing the kept ones)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        PIPELINE_DROP,
        parse_stage,
        parse_stage_pipeline,
    )

    got = parse_stage_pipeline(fixture_df)
    assert not set(PIPELINE_DROP) & set(got.columns)
    want = parse_stage(fixture_df).drop(*PIPELINE_DROP)
    assert got.columns == want.columns
    g = got.toPandas().sort_values(["conv_id", "turn_idx"], ignore_index=True)
    w = want.toPandas().sort_values(["conv_id", "turn_idx"], ignore_index=True)
    pd.testing.assert_frame_equal(g, w)
