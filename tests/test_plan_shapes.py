"""Physical-plan regression guards: the shapes the scale design depends on
(broadcast-only dim joins, merged window sorts, parquet pushdown, single
parse evaluation) must not silently regress."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = _plan(ev.filter(F.col("event_type") == "error").select("event_id", "ts"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in p
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string>" in p


def test_enrich_is_broadcast_only(spark, fixture_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import (
        dims,
        enrich,
    )

    p = _plan(enrich(parse_stage(fixture_df), dims(spark)))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_routing_is_broadcast(spark, fixture_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import dims
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        online_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sinks import (
        route_anomalies,
    )

    # union of detector branches -> non-constant detector column, so the
    # routing join materializes as a real broadcast hash join
    p = _plan(route_anomalies(online_anomalies(parse_stage(fixture_df)),
                              dims(spark)["routing"]))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_fused_online_single_sort(spark, fixture_pdf):
    """W1+W2 fused pass: ONE Exchange hashpartitioning(conv_id, source) and
    ONE Sort — the rank/prefix windows order by (epoch, turn_idx) and the
    range frames by (epoch), both satisfied by the same physical sort."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(spike_statistical_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:
        return
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("+- Sort") == 1, p


def test_statistical_only_plan_has_no_spike_columns(spark, fixture_pdf):
    """W2 alone (``statistical_anomalies``: the fused pass with
    ``spike_cfg=None``) keeps the former standalone W2 plan's shape — one
    Exchange hashpartitioning(conv_id, source), one Sort, three Window
    operators — and exactly one ArrowEvalPython, the W2 description: no
    W1 windows, ratio or description UDF reach the plan."""
    import re

    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.statistical import (
        statistical_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(statistical_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:
        return
    assert p.count("Exchange") == 1, p
    assert re.search(r"Exchange hashpartitioning\(conv_id#\d+, source#\d+, ", p), p
    assert p.count("+- Sort") == 1, p
    assert p.count("+- Window [") == 3, p
    evals = [line for line in p.splitlines() if "ArrowEvalPython" in line]
    assert len(evals) == 1, p
    assert re.search(
        r"ArrowEvalPython \[fmt\(source#\d+, z#\d+, mean#\d+, sd#\d+\)#\d+\]",
        evals[0],
    ), evals[0]
    for spike_col in ("cur#", "base#", "ratio#"):
        assert spike_col not in p, (spike_col, p)


def test_burst_single_exchange(spark, fixture_pdf):
    """The burst scan's explicit repartition must not introduce a second
    shuffle: the count-window already hash-partitions by (conv_id,
    burst_key), and the executed plan keeps exactly ONE Exchange (verified
    round 4 per ADVICE; this pins it)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
        burst_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(burst_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:
        return
    assert p.count("Exchange") == 1, p


def test_sequence_counts_no_lead_string_exchange(spark, fixture_pdf):
    """A10's representative-string attach must not re-exchange the lead
    frame even in the SortMergeJoin fallback: the counts side co-partitions
    by conv (requireAllClusterKeysForCoPartition=false), so no Exchange in
    the plan carries the s1..s9 lead-string columns."""
    import re

    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        sequence_counts,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(800), schema=TRANSCRIPTS_SCHEMA)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            sequence_counts(parse_stage(fresh)).explain("formatted")
        fmt = buf.getvalue()
        assert "SortMergeJoin" in fmt  # the fallback actually engaged
        for sec in re.split(r"\n\n", fmt):
            first = sec.strip().splitlines()[0] if sec.strip() else ""
            if re.match(r"\(\d+\) Exchange", first):
                inputs = " ".join(
                    l for l in sec.splitlines() if l.startswith("Input")
                )
                assert not re.search(r"\bs[1-9]#", inputs), sec
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_parse_evaluated_once_per_online_detector(spark, fixture_pdf):
    """Each online detector's plan holds exactly one Arrow parse: no
    detector makes Catalyst evaluate the parse twice. (``online_anomalies``
    itself unions four consumers of the parsed frame, so over an unpersisted
    parse its plan holds one per branch; the pipeline persists the parsed
    frame first.) Uses a FRESH uncached input so the cache manager cannot
    substitute persisted subtrees from other tests (their plan descriptions
    would pollute the string counts)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
        burst_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.rare_ip import (
        rare_ip_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        parser_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    parsed = parse_stage(fresh)
    for detector in (parser_anomalies, spike_statistical_anomalies,
                     burst_anomalies, rare_ip_anomalies):
        p = _plan(detector(parsed))
        if "InMemoryRelation" in p:  # another test cached an identical subtree
            continue
        assert p.count("MapInArrow") == 1, (detector.__name__, p)
