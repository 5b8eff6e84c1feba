"""compare.verdict applies the paired-run rule.

    python3 -m pytest perfbench/test_compare.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare import verdict  # noqa: E402

PARENT = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]


def test_clear_win_is_better():
    change = [x * 1.2 for x in PARENT]
    assert verdict(PARENT, change, "higher", 0.1) == ("better", 10, 10)


def test_loss_beyond_bound_is_worse():
    change = [x * 1.2 for x in PARENT]  # 20% slower on a lower-is-better time
    assert verdict(PARENT, change, "lower", 0.1)[0] == "worse"


def test_small_shift_inside_steady_parent_is_same():
    change = [x + 0.01 for x in PARENT]
    assert verdict(PARENT, change, "higher", 0.1)[0] == "same"


def test_wide_parent_without_a_clean_win_is_unresolved():
    # the parent's spread (IQR / median) is far above the bound; the change
    # wins every pair, by less than the IQR, and does not beat every
    # parent run, so the data cannot tell
    parent = [60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0, 100.0, 100.0]
    change = [p + 1.0 for p in parent]
    assert verdict(parent, change, "higher", 0.1) == ("unresolved", 10, 10)


def test_wide_parent_beaten_by_every_change_run_is_not_unresolved():
    parent = [60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0, 100.0, 100.0]
    change = [p + 200.0 for p in parent]
    assert verdict(parent, change, "higher", 0.1)[0] == "better"
