"""Tests for the benchmark's own helpers: the Spark metric-string parser,
the percentile rule, span self time, process-tree CPU time, and the
point-id hash of the input generator.

    python3 -m pytest perfbench/tests -q
"""

import os
import signal
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.inputs import url_for, xxhash64  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    parse_metric,
    percentile,
    process_tree_cpu_s,
    self_time,
    tail_percentile,
    union_length,
)


# ------------------------------------------------------------- parser ---

def test_parse_summary_form_takes_the_total():
    v = "total (min, med, max (stageId: taskId))\n6.1 s (1.0 s, 1.5 s, 2.0 s (stage 3.0: task 12))"
    assert parse_metric(v) == pytest.approx(6.1)


def test_parse_summary_form_sizes_and_milliseconds():
    v = "total (min, med, max (stageId: taskId))\n1612.1 KiB (403.0 KiB, 403.0 KiB, 403.0 KiB (stage 0.0: task 1))"
    assert parse_metric(v) == pytest.approx(1612.1 * 1024)
    v = "total (min, med, max (stageId: taskId))\n986 ms (10 ms, 20 ms, 30 ms (stage 0.0: task 1))"
    assert parse_metric(v) == pytest.approx(0.986)


def test_parse_plain_forms():
    assert parse_metric("20.5 KiB") == pytest.approx(20.5 * 1024)
    assert parse_metric("3.1 MiB") == pytest.approx(3.1 * 2**20)
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric("14 ms") == pytest.approx(0.014)
    assert parse_metric("1.5 m") == pytest.approx(90.0)
    assert parse_metric("1,349,466") == 1349466
    assert parse_metric("0") == 0


def test_parse_rejects_unknown_units_and_garbage():
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")
    with pytest.raises(ValueError):
        parse_metric("n/a")


# --------------------------------------------------------- percentiles ---

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None          # 9.5 above the median
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0          # 9.75 above p75
    assert tail_percentile(40) == 75.0
    assert tail_percentile(99) == 75.0          # 9.9 above p90
    assert tail_percentile(100) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10000) == 99.9


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 50)


# ------------------------------------------------------------ self time ---

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, None)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 9.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 5.5), []) == pytest.approx(3.5)


def test_union_length_ignores_empty_intervals():
    assert union_length([(0, 1), (2, 2), (1, 3)]) == pytest.approx(3.0)
    assert union_length([]) == 0.0


def test_tracer_nests_spans_and_shares_the_op_id():
    t = Tracer()
    with t.span("op", op="q#1") as outer:
        with t.span("plan") as inner:
            pass
    assert inner.parent == outer.id
    assert inner.op == "q#1"
    assert t.children(outer) == [inner]
    assert t.self_time(outer) == pytest.approx(outer.duration - inner.duration)


BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass"


def test_span_cpu_counts_a_child_process():
    t = Tracer()
    with t.span("op", cpu=True) as s:
        subprocess.run([sys.executable, "-c", BURN.format(s=0.3)], check=True)
    with t.span("plain") as plain:
        pass
    # the child's burn plus its interpreter start; the kernel reports user
    # and system time separately, each rounded down to a clock tick
    assert 0.28 <= s.cpu_s < 1.0
    assert plain.cpu_s is None


def test_process_tree_cpu_counts_a_running_grandchild():
    # a shell that runs a burning Python: the burner is a grandchild, alive
    # (not yet waited for) when the tree is read
    p = subprocess.Popen(["sh", "-c", f"{sys.executable} -c '{BURN.format(s=0.3)}\n"
                          "import time; time.sleep(30)'"], start_new_session=True)
    try:
        deadline = time.monotonic() + 10
        while process_tree_cpu_s(p.pid) < 0.28 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert process_tree_cpu_s(p.pid) >= 0.28
        assert process_tree_cpu_s() >= process_tree_cpu_s(p.pid)
    finally:
        os.killpg(p.pid, signal.SIGKILL)  # the shell and the burner
        p.wait()


# --------------------------------------------------------------- input ---

@pytest.mark.parametrize("doc_id, pid", [
    (0, 3200905966918223752),     # 28 bytes: words, a 4-byte tail
    (7, -3255753005852812670),
    (49999, -2989605272051547582),  # 34 bytes: one 32-byte stripe, 2 tail bytes
])
def test_xxhash64_matches_spark(doc_id, pid):
    # the values Spark's xxhash64(url) returns for these generated pages
    assert xxhash64(url_for(doc_id).encode("utf-8")) == pid
