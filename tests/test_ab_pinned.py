"""tools/ab_pinned.py --tool perfbench: the per-metric summary of
interleaved parent/change benchmark pairs (pure Python, no Spark)."""

from __future__ import annotations

from tools.ab_pinned import perfbench_summary

SPEC = [
    {"name": "ops_per_s", "better": "higher", "bound": 0.25},
    {"name": "ack_p50_ms", "better": "lower", "bound": 0.25},
]


def _pair(old: dict, new: dict, old_ok=True, new_failed=0) -> dict:
    return {
        "old": {"correct": old_ok, "failed": 0, "metrics": old},
        "new": {"correct": True, "failed": new_failed, "metrics": new},
    }


def test_win_rule_needs_nine_tenths_and_a_gap_beyond_the_old_iqr():
    # ops_per_s: the new side wins 9 of 10 pairs by ~100 op/s, far
    # beyond the old side's IQR; ack_p50_ms: new is 40% worse everywhere
    pairs = [
        _pair({"ops_per_s": 400 + i, "ack_p50_ms": 1000},
              {"ops_per_s": (500 + i) if i else 300, "ack_p50_ms": 1400})
        for i in range(10)
    ]
    s = perfbench_summary(pairs, SPEC)["metrics"]
    ops = s["ops_per_s"]
    assert ops["pairs"] == 10 and ops["wins"] == 9 and ops["win_rule"]
    assert ops["old"]["median"] == 404.5 and not ops["beyond_bound"]
    ack = s["ack_p50_ms"]
    assert ack["wins"] == 0 and not ack["win_rule"]
    assert ack["worse_by"] == 0.4 and ack["beyond_bound"]
    # the same wins over three pairs are too few for the rule
    assert not perfbench_summary(pairs[1:4], SPEC)["metrics"]["ops_per_s"]["win_rule"]


def test_win_rule_fails_inside_the_noise_and_bad_runs_are_counted():
    # 10/10 wins, but by 1 op/s against an old IQR of ~50 op/s
    olds = [400, 450, 500, 420, 480, 410, 470, 430, 460, 440]
    pairs = [_pair({"ops_per_s": o}, {"ops_per_s": o + 1}) for o in olds]
    pairs[3] = _pair({"ops_per_s": 420}, {"ops_per_s": 421}, old_ok=False)
    pairs[5] = _pair({"ops_per_s": 410}, {"ops_per_s": 411}, new_failed=2)
    pairs.append({
        "old": {"correct": True, "failed": 0, "metrics": {"ops_per_s": 400}},
        "new": {"correct": False, "failed": None, "metrics": {}},  # printed no result
    })
    s = perfbench_summary(pairs, SPEC)
    ops = s["metrics"]["ops_per_s"]
    assert ops["pairs"] == 10 and ops["wins"] == 10 and not ops["win_rule"]
    assert s["metrics"]["ack_p50_ms"] == {"pairs": 0}
    assert s["bad_runs"] == {"old": 1, "new": 2}
