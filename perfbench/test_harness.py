"""Output comparison used by the query_mix checks.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import pandas as pd

from harness import frames_match


def test_frames_match_ignores_row_order_and_float_rounding_side():
    got = pd.DataFrame({"node": [2, 1], "pr": [0.2500005, 0.1]})
    want = pd.DataFrame({"pr": [0.1, 0.2499995], "node": [1, 2]})
    assert frames_match(got, want)


def test_frames_match_rejects_other_values_rows_and_nulls():
    base = pd.DataFrame({"node": [1, 2], "pr": [0.1, 0.2]})
    assert not frames_match(base, pd.DataFrame({"node": [1, 2], "pr": [0.1, 0.2001]}))
    assert not frames_match(base, pd.DataFrame({"node": [1, 3], "pr": [0.1, 0.2]}))
    assert not frames_match(base, base.iloc[:1])
    assert not frames_match(base, pd.DataFrame({"node": [1, 2], "pr": [0.1, None]}))
