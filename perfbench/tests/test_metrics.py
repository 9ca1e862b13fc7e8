"""Unit tests of the benchmark's pure helpers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import time

import pytest

from perfbench.metrics import (
    MIN_TAIL_SAMPLES,
    OpLedger,
    median,
    percentile,
    self_times,
    tail_percentile,
)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([5.0], 99) == 5.0
    assert percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_tail_percentile_keeps_ten_samples_beyond():
    assert MIN_TAIL_SAMPLES == 10
    xs = [float(i) for i in range(100)]
    # p90 of 100 samples leaves exactly 10 above its rank
    assert tail_percentile(xs, 90) == 89.0
    with pytest.raises(ValueError):
        tail_percentile(xs, 95)  # only 5 beyond
    # p99 needs 1000 samples
    assert tail_percentile([float(i) for i in range(1000)], 99) == 989.0
    with pytest.raises(ValueError):
        tail_percentile([float(i) for i in range(999)], 99)
    # the median of 20 samples leaves 10 beyond it
    assert tail_percentile([float(i) for i in range(20)], 50) == 9.0
    with pytest.raises(ValueError):
        tail_percentile([float(i) for i in range(19)], 50)


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),     # overlaps span 2: union is 1..5
        _span(4, 2, 1.5, 2.0),     # grandchild: counts against span 2 only
        _span(5, 1, 9.0, 12.0),    # runs past its parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3.0)


def test_self_time_without_children_is_duration():
    assert self_times([_span(7, None, 2.0, 2.5)]) == {7: pytest.approx(0.5)}


def test_op_ledger_counts_failures_and_tolerated_kinds():
    led = OpLedger(tolerated=frozenset({"stale_read"}))
    led.ok("serve", 8)
    led.fail("stale_read", "FileNotFoundError")
    led.fail("stale_read", "FileNotFoundError")
    assert (led.attempted, led.failed) == (10, 2)
    assert led.correct  # only the tolerated, recorded defect failed
    assert led.ok_share() == pytest.approx(0.8)
    led.fail("oracle", "doc ids differ")
    assert (led.attempted, led.failed) == (11, 3)
    assert not led.correct
    assert led.failed_by_kind == {"stale_read": 2, "oracle": 1}


def test_op_ledger_needs_an_attempt():
    with pytest.raises(ValueError):
        OpLedger().ok_share()


def test_tree_cpu_counts_this_process_and_reaped_children():
    import subprocess
    import sys

    from perfbench.sparkprobe import tree_cpu_s

    c0 = tree_cpu_s()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    c1 = tree_cpu_s()
    assert c1 - c0 >= 0.2
    # a child that burns CPU and is reaped is still counted
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time() + 0.3\n"
                    "while time.process_time() < t: pass"], check=True)
    assert tree_cpu_s() - c1 >= 0.2
