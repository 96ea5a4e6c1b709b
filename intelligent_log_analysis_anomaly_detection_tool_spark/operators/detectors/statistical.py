"""W2 StatisticalDetector: z-score on per-(conv, source) event rate.

Reference semantics (/root/reference/src/anomaly/StatisticalDetector.cpp:
28-77,154-222; defaults include/anomaly/StatisticalDetector.hpp:142-150):

- rate signal per source: trailing deque of timestamps within 600s (evict
  age > 600, current row included). n < 2 -> rate = n*60/600; else
  rate = n / max(1e-6, max(1, span_sec(first,last)) / 60) with span measured
  first-to-current (the deque back IS the current row's ts)
- Welford running mean/m2 over the rate sequence, UPDATED WITH the current
  value BEFORE z is computed (StatisticalDetector.cpp:40-56)
- z = (rate - mean)/(sample stddev) if count >= 10 && stddev != 0, else 0
- fire iff |z| > 3.0; severity min(1,|z|/3) -> always 1.0 -> main maps to High
- anomaly: type StatisticalOutlier, window [ts, ts], score = z (signed)

Spark-first: Welford over the prefix is algebraically identical to
the sample mean/stddev over ``rowsBetween(unboundedPreceding, currentRow)``,
so the whole detector is three window expressions over (conv_id, source).
They are built once, in ``online_fused.spike_statistical_anomalies``; this
operator is that pass with the W1 half switched off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ...config import StatisticalConfig
from .online_fused import spike_statistical_anomalies


def statistical_anomalies(
    parsed: DataFrame, cfg: StatisticalConfig = StatisticalConfig()
) -> DataFrame:
    return spike_statistical_anomalies(parsed, spike_cfg=None, stat_cfg=cfg)
