"""W3 BurstPatternDetector: repeated normalized message bursts.

Reference semantics (/root/reference/src/anomaly/BurstPatternDetector.cpp:
18-116; defaults include/anomaly/BurstPatternDetector.hpp:65-67):

- key = ``source|level_int|normalized_msg`` where normalization is lowercase,
  then ``[0-9a-f]{8,}`` -> ``<id>`` (BEFORE the number rule, so 8+ digit runs
  become <id> not <n>), then ``\\b\\d+\\b`` -> ``<n>``, collapse whitespace,
  trim
- per key: trailing 60s deque (evict age > 60); after append, if count >= 20
  emit a burst (score=count, window=[first,last] of deque); then IFF
  count > 20 trim the deque to the last 10 events. Net: fires at 20, at 21
  (then trim to 10), then again each refill to 20/21 while the burst persists
- anomaly: SequenceViolation, High, desc
  "Burst repetition detected: N repeats within 60s" (main.cpp:329-343)

This trim-on-emit mutation is the one genuinely order-sensitive stateful op
in the reference — not expressible as a SQL window frame (emission changes
retained state). Spark-first strategy: key normalization is a native
regexp_replace chain (JVM, codegen'd); the scan runs as ONE streaming pass
per shuffle partition (``mapInPandas`` over data hash-partitioned by
(conv_id, burst_key) and sorted within partitions) — NOT per-group
applyInPandas, whose per-group pandas-frame overhead dominates when there
are many small groups (measured 23.7 s -> ~2 s at sf0.1 on the dense driver
rendering). Retained state per in-progress group is provably bounded: after
every row the deque holds <= min_repeats events (fire-at-m keeps the deque,
fire-above-m trims to m//2), so carrying a group across Arrow batches is a
<= m-element list. Keys are fine-grained (source x level x normalized
message), so parallelism is high even inside hot conversations.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ...config import BurstConfig
from .common import S_HIGH, T_SEQ, as_anomaly, with_epoch

_SCAN_SCHEMA = (
    "conv_id string, turn_idx int, window_start long, window_end long, "
    "score double, source string, description string"
)


def normalized_message(col: Column) -> Column:
    """normalizeMessage (BurstPatternDetector.cpp:18-56) as native exprs."""
    s = F.lower(col)
    s = F.regexp_replace(s, r"[0-9a-f]{8,}", "<id>")
    s = F.regexp_replace(s, r"\b\d+\b", "<n>")
    s = F.regexp_replace(s, r"\s+", " ")
    return F.trim(s)


def burst_key() -> Column:
    """W3's per-conversation group key: a 64-bit hash of (source, level,
    normalized message), so the ~100-byte normalized string never travels
    through an exchange or into streaming state. The batch scan and the
    streaming state store key by this same column."""
    return F.xxhash64(
        F.col("source"), F.col("level_ord"), normalized_message(F.col("message"))
    )


def burst_description(count: int, window_s: int) -> str:
    return f"Burst repetition detected: {count} repeats within {window_s}s"


def burst_walk(
    ret: list[int], epochs: list[int], window_s: int, min_repeats: int
) -> list[tuple[int, int, int, int]]:
    """The trim-on-emit deque walk (BurstPatternDetector.cpp:75-116) over one
    group's next rows, in arrival order.

    ``ret`` holds the group's retained epochs and is mutated in place, so a
    caller carries it to the next call for the same group (the next Arrow
    batch, or the next streaming trigger). Each epoch is appended, rows with
    age > ``window_s`` are evicted (age == window is kept), and when the
    count reaches ``min_repeats`` a firing ``(offset into epochs, first,
    last, count)`` is reported; above ``min_repeats`` the deque is then
    trimmed to its last ``min_repeats // 2`` epochs. So ``ret`` never ends a
    row above ``min_repeats`` elements, which bounds every carried state."""
    keep = max(1, min_repeats // 2)
    fired = []
    for i, t in enumerate(epochs):
        ret.append(t)
        lo = t - window_s
        k = 0
        while ret[k] < lo:
            k += 1
        if k:
            del ret[:k]
        c = len(ret)
        if c >= min_repeats:
            fired.append((i, ret[0], ret[-1], c))
            if c > min_repeats:
                del ret[:-keep]
    return fired


_OUT_COLS = [
    "conv_id", "turn_idx", "window_start", "window_end",
    "score", "source", "description",
]


def _scan_factory(window_s: int, min_repeats: int):
    """Per-PARTITION streaming scan (mapInPandas batch iterator).

    Input batches arrive hash-partitioned by (conv_id, burst_key) and sorted
    by (conv_id, burst_key, turn_idx), so each group's rows are contiguous —
    possibly spanning Arrow batches. Each batch is cut into runs of one
    group and ``burst_walk`` walks each run; the only state carried across
    batches is the in-progress group's retained deque (at most
    ``min_repeats`` epochs). No per-group pandas frames."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None          # (conv_id, burst_key) of the in-progress group
        ret: list[int] = []  # retained epochs of the in-progress group
        for pdf in batches:
            if pdf.empty:
                continue
            ts = pdf["epoch"].tolist()
            turns = pdf["turn_idx"].to_numpy()
            srcs = pdf["source"].to_numpy()
            convs = pdf["conv_id"].to_numpy()
            keys = pdf["burst_key"].to_numpy()
            cuts = np.flatnonzero(
                (convs[1:] != convs[:-1]) | (keys[1:] != keys[:-1])
            ) + 1
            bounds = [0, *cuts.tolist(), len(ts)]
            out = []
            for s, e in zip(bounds[:-1], bounds[1:]):
                g = (convs[s], keys[s])
                if g != cur:
                    cur = g
                    ret = []
                for off, first, last, c in burst_walk(
                    ret, ts[s:e], window_s, min_repeats
                ):
                    out.append((
                        convs[s], int(turns[s + off]), first, last, float(c),
                        srcs[s + off], burst_description(c, window_s),
                    ))
            if out:
                yield pd.DataFrame(out, columns=_OUT_COLS)

    return scan


def burst_anomalies(parsed: DataFrame, cfg: BurstConfig = BurstConfig()) -> DataFrame:
    df = with_epoch(parsed.filter(~F.col("malformed")))
    df = df.withColumn("burst_key", burst_key()).select(
        "conv_id", "burst_key", "turn_idx", "epoch", "source"
    )
    # Scale guard: a key with fewer than min_repeats TOTAL rows can never
    # reach min_repeats inside any 60s window, so it can never fire. The
    # cheap count-window prunes the vast majority of (conv, key) groups
    # before the (python-side) mapInPandas scan — the shuffle partitioning
    # it introduces is the same one the scan needs, so no extra exchange.
    from pyspark.sql import Window

    w_key = Window.partitionBy("conv_id", "burst_key")
    df = df.withColumn("key_n", F.count(F.lit(1)).over(w_key)).filter(
        F.col("key_n") >= cfg.min_repeats
    )
    # one streaming python pass per shuffle partition: the count-window above
    # already hash-partitioned by (conv_id, burst_key), so the repartition
    # introduces NO second exchange (plan-verified, round 4: the executed
    # plan contains exactly one Exchange hashpartitioning(conv_id, burst_key)
    # below the Window, then Sort -> MapInPandas); the sort makes groups
    # contiguous
    scanned = (
        df.repartition("conv_id", "burst_key")
        .sortWithinPartitions("conv_id", "burst_key", "turn_idx")
        .mapInPandas(
            _scan_factory(cfg.window_s, cfg.min_repeats), schema=_SCAN_SCHEMA
        )
    )
    out = scanned.select(
        "conv_id",
        "turn_idx",
        F.lit("burst").alias("detector"),
        F.lit(T_SEQ).alias("anomaly_type"),
        F.lit(S_HIGH).alias("severity"),
        F.timestamp_seconds("window_start").alias("window_start"),
        F.timestamp_seconds("window_end").alias("window_end"),
        F.col("score"),
        F.col("source"),
        F.col("description"),
    )
    return as_anomaly(out)
