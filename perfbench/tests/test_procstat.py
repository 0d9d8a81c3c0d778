"""Steal share from two /proc/stat samples."""

import pytest

from procstat import steal_delta, steal_share

KEYS = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]


def stat(**kw):
    return {k: kw.get(k, 0) for k in KEYS}


def test_steal_share_counts_only_busy_time():
    before = stat(user=100, system=10, idle=500, steal=5)
    # 60 user + 10 system + 30 steal busy; idle and iowait are not counted
    after = stat(user=160, system=20, idle=900, iowait=50, steal=35)
    assert steal_share(before, after) == pytest.approx(0.3)
    assert steal_delta(before, after) == {"steal_jiffies": 30, "steal_pct_of_busy": 30.0}


def test_steal_share_of_an_idle_interval_is_zero():
    s = stat(user=1, idle=2, steal=3)
    assert steal_share(s, s) == 0.0
