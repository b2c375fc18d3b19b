"""``tools/perf_pairs.py`` summary rule: wins by each metric's direction,
ties for neither side, and a gain claimed only with >= 9/10 wins over at
least ten pairs and a median gap wider than the parent's IQR."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from perf_pairs import parse_seeds, summarize  # noqa: E402


def _pair(parent: dict, change: dict) -> tuple[dict, dict]:
    wrap = lambda m: {"metrics": {k: {"value": v} for k, v in m.items()}}  # noqa: E731
    return wrap(parent), wrap(change)


def test_parse_seeds_ranges_and_lists():
    assert parse_seeds("5,7,10-12") == [5, 7, 10, 11, 12]


def test_claim_needs_nine_tenths_wins_and_a_gap_past_the_parent_iqr():
    better = {"docs_per_s": "higher", "p90_s": "lower"}
    pairs = [_pair({"docs_per_s": 100 + i, "p90_s": 0.5}, {"docs_per_s": 120 + i, "p90_s": 0.5})
             for i in range(10)]
    rows = {r["metric"]: r for r in summarize(pairs, better)}
    assert rows["docs_per_s"]["wins"] == 10 and rows["docs_per_s"]["claim"]
    assert rows["docs_per_s"]["parent_iqr"] == 4.5
    assert rows["p90_s"]["wins"] == 0 and rows["p90_s"]["losses"] == 0
    assert not rows["p90_s"]["claim"]
    # 10/10 wins, but the medians differ by less than the parent's IQR
    close = [_pair({"docs_per_s": 100 + 10 * i}, {"docs_per_s": 101 + 10 * i}) for i in range(10)]
    (row,) = summarize(close, {"docs_per_s": "higher"})
    assert row["wins"] == 10 and not row["claim"]
    # lower is better: 8/10 wins is not enough
    mixed = [_pair({"p90_s": 0.5}, {"p90_s": 0.3 if i < 8 else 0.6}) for i in range(10)]
    (row,) = summarize(mixed, {"p90_s": "lower"})
    assert (row["wins"], row["losses"], row["claim"]) == (8, 2, False)
