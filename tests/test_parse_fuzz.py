"""Property test: the Arrow parse kernel == the per-row oracle on
adversarial inputs (quote/backslash/colon/bracket soup, truncated JSON,
unicode, odd whitespace)."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from oracle.reference_oracle import parse_line
from tests.test_parse import parse_frame

ALPHABET = (
    "abcXYZ019 \t:{}[]\"'\\,-.@#%?_"
    "é世١"  # é, 世, arabic-indic digit
)

line_st = st.one_of(
    st.text(alphabet=ALPHABET, max_size=80),
    # timestamp-ish prefixes with mutations
    st.tuples(
        st.sampled_from([
            "2025-01-01 10:00:00", "2025-01-01T10:00:00", "2025-13-45 99:99:99",
            "2025-01-0a 10:00:00", "0000-00-00 00:00:00", "2025/01/01x10.00.00",
        ]),
        st.text(alphabet=ALPHABET, max_size=60),
    ).map(lambda t: t[0] + " " + t[1]),
    # json-ish
    st.tuples(
        st.sampled_from(['{"timestamp"', '{"time"', '{"level"', "{junk"]),
        st.text(alphabet=ALPHABET, max_size=60),
    ).map(lambda t: t[0] + t[1]),
)


def _row(line):
    e, err = parse_line(line)
    if e is None:
        return ("MALFORMED", err, None, None, None, None)
    return ("OK", None, e["ts"], e["level"], e["source"], e["message"])


@settings(max_examples=500, deadline=None)
@given(st.lists(line_st, min_size=1, max_size=20))
def test_parse_matches_oracle_fuzz(lines):
    got = parse_frame(lines)
    for i, line in enumerate(lines):
        status, err, ts, level, source, message = _row(line)
        if status == "MALFORMED":
            assert bool(got.loc[i, "malformed"]), (line, got.loc[i].to_dict())
            assert got.loc[i, "error"] == err, (line, got.loc[i, "error"], err)
        else:
            assert not got.loc[i, "malformed"], (line, got.loc[i].to_dict())
            got_ts = got.loc[i, "ts_parsed"]
            assert int(pd.Timestamp(got_ts).timestamp()) == ts, line
            assert int(got.loc[i, "level_ord"]) == level, line
            assert got.loc[i, "source"] == source, line
            assert got.loc[i, "message"] == message, line
