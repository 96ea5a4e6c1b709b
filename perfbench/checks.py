"""Output checks against the repo's own oracles, run outside timed regions.

- Log workloads: row counts per detector (plus parsed / malformed / minute
  rows) against ``oracle.reference_oracle.run_table`` on the same input. The
  oracle's malformed-line anomaly windows differ from the engine's
  (documented divergence), which no count depends on.
- Document queries: each ``__spark_entry__.queries()`` result against its
  DuckDB ``oracle_sql()`` text on the same parquet files, compared the way
  ``tests/test_entry_contract.py`` does: columns, row count, order-insensitive
  values.

Every oracle result is cached per input directory, so a seed pays for its
oracle once.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd

from job import DETECTORS


def _cached_json(path: str, build) -> dict:
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = build()
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value


def oracle_counts(pdf: pd.DataFrame) -> dict[str, int]:
    from oracle.reference_oracle import run_table

    got = run_table(pdf)
    parsed, anomalies = got["parsed"], got["anomalies"]
    counts = {d: int(n) for d, n in anomalies["detector"].value_counts().items()}
    counts["malformed"] = int(parsed["malformed"].sum())
    counts["parsed"] = int(len(parsed) - counts["malformed"])
    counts["input_rows"] = int(len(pdf))
    counts["minute_rows"] = int(len(got["minutes"]))
    return counts


def synth_oracle(data_dir: str, cache: str) -> dict[str, int]:
    return _cached_json(cache, lambda: oracle_counts(pd.read_parquet(data_dir)))


def mismatches(got: dict[str, int], want: dict[str, int], keys) -> list[str]:
    """Names of the counts in ``keys`` on which ``got`` and ``want`` differ
    (a count missing on one side reads 0)."""
    return [k for k in keys if int(got.get(k, 0)) != int(want.get(k, 0))]


SYNTH_KEYS = ("parsed", "malformed", "minute_rows", *DETECTORS)


def docs_oracle(data_dir: str, name: str, cache_dir: str) -> pd.DataFrame:
    import __spark_entry__ as entry
    import duckdb

    path = os.path.join(cache_dir, f"{name}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    try:
        for p in glob.glob(os.path.join(data_dir, "*.parquet")):
            table = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
        want = con.execute(entry.oracle_sql()[name]).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(list(out.columns), ignore_index=True)


def frames_agree(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            if not np.allclose(g.to_numpy(float), w.to_numpy(float),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        else:
            try:
                pd.testing.assert_series_equal(g, w, check_dtype=False,
                                               check_names=False)
            except AssertionError:
                return False
    return True
