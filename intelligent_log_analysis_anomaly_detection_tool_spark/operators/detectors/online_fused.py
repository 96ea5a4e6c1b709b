"""Fused W1+W2 pass: SpikeDetector and StatisticalDetector share one sort.

Both detectors key by (conv_id, source) and order by event time
(SpikeDetector.cpp:24-85 and StatisticalDetector.cpp:28-77 walk the same
per-source deques over the same arrival order), so their window columns —
trailing counts, range min, prefix mean/stddev — can be computed over ONE
exchanged + sorted frame instead of two. At 6.9M rows the duplicate
(conv_id, source) WindowExec sort was worth ~5-8 s of the online-branch
wall; at 100 TB it is a full extra shuffle+sort of the parsed table.

W1 reference semantics (SpikeDetector.cpp:24-85, 158-213; defaults
SpikeDetector.hpp:143-146):

- per source, trailing event-time windows of 60s (short) and 600s (baseline),
  both including the current row; eviction strictly ``age > W``
- ratio = (cur/60)/(base/600); fire iff ratio > 3.0 && cur >= 5 && base >= 10
- severity = min(1, (ratio-1)/(threshold-1)) is then always 1.0, so
  main.cpp:295-309 always maps it to Critical
- rateOfChange is dead code (SpikeDetector.cpp:177-180) -> ROC=0.00
- anomaly: type FrequencySpike, window [ts-60s, ts], score = ratio

W2 semantics are documented in statistical.py. Its ``statistical_anomalies``
(and so the ``statistical_detector`` query of ``__spark_entry__``) is this
pass with ``spike_cfg=None``, which builds none of the W1 columns: no
``cur``/``base`` windows, no ratio, no W1 description UDF, no W1 variant.

Plan shape (pinned by tests/test_plan_shapes.py): exactly one Exchange
hashpartitioning(conv_id, source) and one Sort
(conv_id, source, epoch, turn_idx); the rank window orders by
(epoch, turn_idx) and the range frames by (epoch) — the single sort
satisfies both by prefix. The description pandas UDFs run only on fired
rows (filter first), and with both detectors on, both anomaly variants are
emitted in one pass via a filtered-array explode — the same one-pass trick as
pattern.pattern_anomalies, so the fused branch never consumes the frame
twice.

Spike excludes empty-source rows (SpikeDetector.cpp:32-37) — but since
``source`` is a partition key, dropping those rows pre-window or masking
the fire condition post-window is the same thing; statistical keeps them.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ...config import SpikeConfig, StatisticalConfig
from .common import (
    S_CRIT, S_HIGH, S_LOW, S_MED, T_FREQ_SPIKE, T_STAT, as_anomaly,
    event_order_window, older_than_window, with_epoch,
)


def _fmt_factory(window_s: int):
    """W1 description; printf-style half-even rounding matches C++ iostreams."""
    @pandas_udf("string")
    def fmt(source: pd.Series, cur: pd.Series, ratio: pd.Series) -> pd.Series:
        return pd.Series(
            [
                f"Spike detected: {s} ({int(c)} events in {window_s}s, "
                f"{r:.1f}x baseline, ROC=0.00"
                for s, c, r in zip(source, cur, ratio)
            ],
            index=source.index,
        )

    return fmt


def _fmt():
    # lazy: pandas_udf registration needs an active session (Spark 4)
    def fmt(source: pd.Series, z: pd.Series, mean: pd.Series,
            sd: pd.Series) -> pd.Series:
        return pd.Series(
            [
                f"Statistical anomaly detected (Z={zz:.2f}): {s} event rate "
                f"deviation {abs(zz):.2f}σ from mean μ={m:.1f} σ={d:.1f}"
                for s, zz, m, d in zip(source, z, mean, sd)
            ],
            index=source.index,
        )

    return pandas_udf(fmt, "string")


def spike_statistical_anomalies(
    parsed: DataFrame,
    spike_cfg: SpikeConfig | None = SpikeConfig(),
    stat_cfg: StatisticalConfig = StatisticalConfig(),
) -> DataFrame:
    """W1 and W2 anomalies from one window pass over (conv_id, source).

    ``spike_cfg=None`` runs W2 alone: the W1 windows, ratio, description UDF
    and variant are never built, so nothing spike-only reaches the plan."""
    spike = spike_cfg is not None
    keys = ("conv_id", "source")
    df = with_epoch(parsed.filter(~F.col("malformed")))

    w_ev = event_order_window(*keys)
    rn = F.row_number().over(w_ev)

    def older(window_s: int):
        return F.count(F.lit(1)).over(older_than_window(window_s, *keys))

    w_rng = (
        Window.partitionBy(*keys)
        .orderBy("epoch")
        .rangeBetween(-stat_cfg.rate_window_s, 0)
    )
    # window-expression layers are batched into single withColumns calls —
    # a chained withColumn re-analyzes the projection per column, which was
    # ~half the driver's plan-construction lead-in (measured round 5);
    # withColumns is one analysis round and plans identically
    windows = {"rn": rn}
    if spike:
        windows["cur"] = rn - older(spike_cfg.short_window_s)
        windows["base"] = rn - older(spike_cfg.baseline_window_s)
    windows["n_rate"] = rn - older(stat_cfg.rate_window_s)
    windows["first_epoch"] = F.min("epoch").over(w_rng)
    df = df.withColumns(windows)

    # --- spike ratio (SpikeDetector.cpp:158-213) and statistical rate
    # (StatisticalDetector.cpp:154-222): plain expressions over the window
    # layer, materialized together so the prefix mean/stddev can window
    # over ``rate`` next ---
    derived = {}
    if spike:
        derived["ratio"] = (
            F.col("cur") / F.lit(float(spike_cfg.short_window_s))
        ) / (F.col("base") / F.lit(float(spike_cfg.baseline_window_s)))
    n = F.col("n_rate")
    span = F.greatest(
        F.lit(1.0), (F.col("epoch") - F.col("first_epoch")).cast("double")
    )
    derived["rate"] = F.when(
        n < 2, n.cast("double") * 60.0 / float(stat_cfg.rate_window_s)
    ).otherwise(n.cast("double") / F.greatest(F.lit(1e-6), span / 60.0))
    df = df.withColumns(derived)

    w_prefix = w_ev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df = df.withColumns({
        "mean": F.avg("rate").over(w_prefix),
        "sd_raw": F.stddev_samp("rate").over(w_prefix),
    })
    sd = F.coalesce(
        F.when(F.col("sd_raw") > 0.0, F.col("sd_raw")), F.lit(0.0)
    )
    z = F.when(
        (F.col("rn") >= stat_cfg.warmup_count) & (sd != 0.0),
        (F.col("rate") - F.col("mean")) / sd,
    ).otherwise(F.lit(0.0))
    df = df.withColumns({"sd": sd, "z": z})

    fire_stat = F.abs(F.col("z")) > stat_cfg.z_threshold
    # descriptions: Arrow UDFs evaluate only on the (few) fired rows
    desc_stat = _fmt()(F.col("source"), F.col("z"), F.col("mean"), F.col("sd"))
    if spike:
        fire_spike = (
            (F.col("source") != "")
            & (F.col("ratio") > spike_cfg.threshold)
            & (F.col("cur") >= spike_cfg.min_current)
            & (F.col("base") >= spike_cfg.min_baseline)
        )
        df = df.withColumns(
            {"fire_spike": fire_spike, "fire_stat": fire_stat}
        ).filter(F.col("fire_spike") | F.col("fire_stat"))
        fmt_spike = _fmt_factory(spike_cfg.short_window_s)
        df = df.withColumns({
            "desc_spike": fmt_spike(F.col("source"), F.col("cur"), F.col("ratio")),
            "desc_stat": desc_stat,
        })
    else:
        df = df.filter(fire_stat).withColumn("desc_stat", desc_stat)

    def _variant(detector, atype, sev, ws, we, score, source, desc):
        return F.struct(
            F.col("conv_id").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.lit(detector).alias("detector"),
            F.lit(atype).cast("int").alias("anomaly_type"),
            sev.cast("int").alias("severity"),
            ws.cast("timestamp").alias("window_start"),
            we.cast("timestamp").alias("window_end"),
            score.cast("double").alias("score"),
            source.alias("source"),
            desc.alias("description"),
        )

    sev_stat = F.least(F.lit(1.0), F.abs(F.col("z")) / stat_cfg.z_threshold)
    sev_ord_stat = (
        F.when(sev_stat >= 0.9, S_HIGH).when(sev_stat >= 0.6, S_MED).otherwise(S_LOW)
    )
    s_stat = _variant(
        "statistical",
        T_STAT,
        sev_ord_stat,
        F.col("ts_parsed"),
        F.col("ts_parsed"),
        F.col("z"),
        F.col("source"),
        F.col("desc_stat"),
    )
    if not spike:
        return as_anomaly(df.select(s_stat.alias("a")).select("a.*"))

    sev_spike = F.least(
        F.lit(1.0), (F.col("ratio") - 1.0) / (spike_cfg.threshold - 1.0)
    )
    sev_ord_spike = (
        F.when(sev_spike >= 0.9, S_CRIT)
        .when(sev_spike >= 0.6, S_HIGH)
        .otherwise(S_MED)
    )
    s_spike = _variant(
        "spike",
        T_FREQ_SPIKE,
        sev_ord_spike,
        F.timestamp_seconds(F.col("epoch") - spike_cfg.short_window_s),
        F.col("ts_parsed"),
        F.col("ratio"),
        F.when(F.col("source") == "", None).otherwise(F.col("source")),
        F.col("desc_spike"),
    )
    # all window-derived values are materialized columns by now (window
    # exprs must not sit inside explode(filter(array(...)))); a null-filtered
    # array explode emits 1-2 anomaly rows per fired input row in one pass
    variants = F.array(
        F.when(F.col("fire_spike"), s_spike), F.when(F.col("fire_stat"), s_stat)
    )
    out = df.select(
        F.explode(F.filter(variants, lambda x: x.isNotNull())).alias("a")
    ).select("a.*")
    return as_anomaly(out)
