"""Unit tests for the benchmark's own arithmetic and checks.

    python3 -m pytest perfbench/test_perfbench.py -q

None of these start Spark.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, gen  # noqa: E402
from perfbench.dedup import components, exact_jaccard_pairs, pair_check  # noqa: E402
from perfbench.lake import expected_diff  # noqa: E402
from perfbench.run import measure  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(20, 2000, 7):
        p = common.tail_percentile(n)
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= 10
        if p < 99:  # one percentile higher would leave fewer than ten
            assert n - math.ceil((p + 1) * n / 100) < 10
    assert common.tail_percentile(24) == 58
    assert common.tail_percentile(1000) == 99
    assert common.tail_percentile(20) == 50
    assert common.tail_percentile(19) == 100  # too few samples: the slowest


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert common.nearest_rank(xs, 50) == 3.0
    assert common.nearest_rank(xs, 100) == 5.0
    assert common.nearest_rank(xs, 1) == 1.0
    assert common.nearest_rank(list(range(1, 101)), 90) == 90


def test_median_pass_sums_per_slot_medians():
    timed = [("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 2.5), ("a", 1.5), ("b", 9.0)]
    assert common.median_pass(timed, ("a", "b")) == 1.5 + 2.5
    # a slot with an even count takes the mean of its middle two
    assert common.median_pass([("a", 1.0), ("a", 2.0)], ("a",)) == 1.5
    # a slot that was never timed has no median
    with pytest.raises(ValueError):
        common.median_pass([("a", 1.0)], ("a", "b"))


class _Op:
    def __init__(self, group):
        self.name = self.group = group
        self.run = self.check = lambda *_: None


class _Tracer:
    spans = None

    def after_op(self, *_):
        pass


def test_measure_times_every_slot_of_a_pass():
    # the time is up at once, yet ops run until every slot has a sample
    ops = (_Op(g) for g in ["a", "a", "b", "a", "b"])
    done = measure(ops, ("a", "b"), _Tracer(), seconds=0)
    assert [op.group for op, *_ in done] == ["a", "a", "b"]
    # a workload that runs out of ops ends the measurement
    done = measure(iter([_Op("a")]), ("a",), _Tracer(), seconds=60)
    assert len(done) == 1


def test_union_length_merges_overlaps_and_clips():
    assert common.union_length([], 0, 10) == 0
    assert common.union_length([(1, 3), (2, 5)], 0, 10) == 4
    assert common.union_length([(1, 2), (3, 4)], 0, 10) == 2
    assert common.union_length([(1, 9), (2, 3), (4, 5)], 0, 10) == 8
    # clipped to the op's interval; intervals outside it count nothing
    assert common.union_length([(-5, 2), (8, 20), (30, 40)], 0, 10) == 4
    # touching intervals do not double count the shared point
    assert common.union_length([(0, 1), (1, 2)], 0, 10) == 2


def test_no_stage_time_is_wall_minus_stage_union():
    wall = (100.0, 110.0)
    stages = [(101.0, 104.0), (103.0, 106.0), (108.0, 112.0)]
    busy = common.union_length(stages, *wall)
    assert busy == 7.0
    assert (wall[1] - wall[0]) - busy == 3.0


def test_floats_match_allows_one_rounding_step_only():
    assert common.floats_match(0.1 + 0.2, 0.3)
    assert common.floats_match(12.34, 12.35)  # 2-decimal rounding flip
    assert not common.floats_match(12.34, 12.36)
    assert not common.floats_match(1.0, 1.5)
    assert common.floats_match(float("nan"), float("nan"))
    # full-precision values must agree closely
    assert not common.floats_match(0.123456789, 0.123457889)


def test_results_match_is_order_insensitive_and_strict_on_shape():
    cols = ["k", "v"]
    rows = [("a", 1.25), ("b", 2.5)]
    assert common.results_match(rows[::-1], cols, rows, cols) is None
    assert common.results_match(rows, ["V", "K"][::-1], rows, cols) is None
    assert common.results_match(rows[:1], cols, rows, cols).startswith("row count")
    assert common.results_match(rows, ["k", "w"], rows, cols).startswith("columns")
    assert common.results_match([("a", 1.25), ("b", 2.6)], cols, rows, cols)
    # integers and floats of equal value compare equal (engines differ)
    assert common.results_match([("a", 1)], cols, [("a", 1.0)], cols) is None
    # a rounding flip does not reorder rows that share their other cells
    got = [("a", 1.0, 3.35), ("a", 2.0, 3.36)]
    want = [("a", 1.0, 3.36), ("a", 2.0, 3.36)]
    assert common.results_match(got, ["k", "n", "x"], want, ["k", "n", "x"]) is None


def test_cpu_seconds_counts_reaped_children():
    own0, reaped0 = common.cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.5: pass"], check=True)
    own1, reaped1 = common.cpu_seconds(os.getpid())
    # the exited child's CPU is now in our cutime/cstime, not in our own
    assert reaped1 - reaped0 >= 0.4
    assert own1 - own0 < 0.4


def test_expected_diff_follows_null_key_semantics():
    prev = [("a", "A"), ("b", None), ("c", "C")]
    cur = [("a", "A"), ("b", None), ("d", "D")]
    # b has a NULL key part: it matches nothing, so it is added and deleted
    assert expected_diff(cur, prev) == (2, 2)
    assert expected_diff(prev, prev) == (1, 1)


def test_hourly_runs_plant_exact_churn():
    runs = gen.hourly_runs(seed=3, accounts=2, records=200, churn=0.05, runs=3)
    for r in range(1, 3):
        for acct in ("acct0", "acct1"):
            cur = {x["username"] for x in runs[r].payloads[acct]}
            prev = {x["username"] for x in runs[r - 1].payloads[acct]}
            assert len(cur) == len(prev) == 200
            assert len(cur - prev) == len(prev - cur) == 10
    again = gen.hourly_runs(seed=3, accounts=2, records=200, churn=0.05, runs=3)
    assert [r.payloads for r in runs] == [r.payloads for r in again]


def test_exact_jaccard_pairs_and_components():
    texts = ["a b c d e f", "a b c d e g", "x y z w v u", "a b c d e f"]
    pairs = exact_jaccard_pairs(texts, 0.5)
    # docs 0 and 3 are identical, 1 shares 3 of 4 shingles with each
    assert pairs == {(0, 1): 0.6, (0, 3): 1.0, (1, 3): 0.6}
    assert components([(5, 9), (9, 2), (7, 8)]) == {5: 2, 9: 2, 2: 2, 7: 7, 8: 7}


def test_planted_pairs_are_found_by_the_exact_pass():
    c = gen.corpus(seed=1, n_docs=400, dup_share=0.1, n_vecs=50,
                   n_candidates=10, n_queries=2, dim=8)
    assert len(c.planted_doc_pairs) == 40
    assert c.planted_doc_pairs <= set(exact_jaccard_pairs(c.texts, 0.5))


def test_pair_check_requires_precision_and_recall():
    truth = {(1, 2), (3, 4), (5, 6)}
    planted = {(1, 2), (3, 4)}
    assert pair_check({(1, 2), (3, 4)}, truth, planted, 1.0) is None
    assert "not near-duplicates" in pair_check({(1, 2), (7, 8)}, truth, planted, 0.0)
    assert "recall" in pair_check({(1, 2)}, truth, planted, 0.9)
