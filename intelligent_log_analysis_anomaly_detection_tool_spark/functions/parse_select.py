"""The parse-stage names the rest of the engine imports.

P1-P8 has one implementation, ``parse_arrow.parse_stage_arrow``
(``mapInArrow`` + pyarrow.compute, oracle-parity tested on edge lines, the
full fixture and hypothesis fuzz). These are thin names over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .parse_arrow import parse_stage_arrow


def parse_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    return parse_stage_arrow(df, text_col)


# Columns no batch-pipeline branch reads after the parse stage: raw ``text``
# duplicates ``message``'s content (plus the formatted prefix), raw ``ts`` is
# superseded by ``ts_parsed``, ``was_json`` is a parse diagnostic. At 1e8+
# rows the raw text alone is ~half the string bytes crossing the Arrow
# boundary back and ~half the persisted-cache footprint — which is what
# binds per-task memory at high parallelism on a fixed heap (the 111M-row
# local[8] degradation measured in bench/scaling_r5_111m_2_8.json).
PIPELINE_DROP = ("text", "ts", "was_json")


def parse_stage_pipeline(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse stage narrowed for the batch pipeline DAG (run_pipeline, the
    scaling/bench harnesses): same rows and values as ``parse_stage`` minus
    the ``PIPELINE_DROP`` columns, dropped inside the exchange (raw ``ts``
    never crosses in either direction; ``text`` crosses inbound only)."""
    return parse_stage_arrow(df, text_col, drop=PIPELINE_DROP)
