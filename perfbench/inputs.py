"""Seeded inputs for the workloads, written once per (seed, size).

The benchmark never reads a table from outside its checkout, so the
fixed seed-42 document tables ``__spark_entry__`` queries are redrawn here
from the workload seed with the same shapes:

- documents: 10..100 words drawn uniformly from the same 31-word vocabulary,
  a few exact duplicates, 20 sources (as ``documents.parquet``);
- embeddings: unit-norm 64-dim gaussians with labels 0..9
  (as ``embeddings.parquet``).

The log-job input is ``synth.synth_local`` — the per-conversation generator
behind the engine's tests and ``run_pipeline.py --synth`` — written to
parquet as ``read_transcripts`` expects.
Generation runs in the benchmark process, before any timed Spark process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 101, n_docs)
    ]
    # a few exact duplicates, so dedup_exact has groups of more than one
    for i in rng.choice(np.arange(1, n_docs), size=max(1, n_docs // 500),
                        replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
SYNTH_FILES = 32


def write_synth_transcripts(seed: int, n_rows: int, root: str) -> str:
    """The first ``n_rows`` rows, in (conv_id, turn_idx) order, of
    ``synth_local(seed, n)`` for the fewest conversations ``n`` that reach
    ``n_rows``: every seed gives the same row count, and only the last
    conversation is cut short. The rows are dealt round-robin into
    ``SYNTH_FILES`` parquet files after a seeded shuffle, the layout
    ``synth_spark(..., uniform=True)`` writes at 4 cores (32 partitions, no
    conversation confined to one file), without a Spark process."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.synth import (
        conv_length,
        synth_local,
    )

    if os.path.isdir(root):
        return root

    def total(n_convs: int) -> int:
        return sum(conv_length(seed, c, n_convs) for c in range(n_convs))

    # the total grows with the conversation count: double, then bisect
    lo, hi = 1, 2
    while total(hi) < n_rows:
        lo, hi = hi, hi * 2
    while hi - lo > 1:
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if total(mid) < n_rows else (lo, mid)
    pdf = synth_local(seed, hi).iloc[:n_rows]
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    order = np.random.default_rng([seed, 4]).permutation(len(pdf))
    tmp = root + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for k in range(SYNTH_FILES):
        part = pdf.iloc[order[k::SYNTH_FILES]]
        pq.write_table(pa.Table.from_pandas(part, schema=TRANSCRIPTS,
                                            preserve_index=False),
                       os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.replace(tmp, root)
    return root


def ensure_tables(root: str, tables: dict) -> str:
    """Write each ``name -> zero-arg table builder`` under ``root`` unless it
    is already there; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, build in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        if not os.path.exists(path):
            _write(build(), path)
    return root
