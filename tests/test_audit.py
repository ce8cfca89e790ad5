"""Unit tests for the /proc/stat steal-audit helper (pure Python)."""

from __future__ import annotations

from kgflow.audit import CpuAudit, CpuWindow, timed_audited


def test_window_math_from_synthetic_ticks():
    # cpu user nice system idle iowait irq softirq steal ...
    before = [100, 0, 100, 700, 50, 0, 0, 50]
    after = [200, 0, 200, 1200, 150, 0, 0, 250]
    audit = CpuAudit(before, None)
    audit_stop = CpuAudit.stop.__get__(audit)

    # monkey-free: feed "after" by temporarily patching _cpu_ticks
    import kgflow.audit as mod

    orig = mod._cpu_ticks
    mod._cpu_ticks = lambda: after
    try:
        w = audit_stop()
    finally:
        mod._cpu_ticks = orig
    total = sum(b - a for a, b in zip(before, after))  # 1000
    assert w.available
    assert w.steal_pct == round(100 * 200 / total, 3)  # 20%
    assert w.iowait_pct == round(100 * 100 / total, 3)  # 10%
    assert w.contaminated()


def test_unavailable_never_contaminated():
    w = CpuWindow()
    assert not w.available and not w.contaminated()
    # degenerate: zero delta
    a = CpuAudit([1, 2, 3], None)
    import kgflow.audit as mod

    orig = mod._cpu_ticks
    mod._cpu_ticks = lambda: [1, 2, 3]
    try:
        assert not a.stop().contaminated()
    finally:
        mod._cpu_ticks = orig


def test_timed_audited_runs_and_returns_result():
    import os
    import time

    # the window must span at least a few jiffies (10ms ticks) or the
    # /proc/stat delta is zero and the window reports unavailable
    elapsed, window, result = timed_audited(lambda: (time.sleep(0.05), 42)[1])
    assert result == 42
    assert elapsed >= 0.05
    if os.path.exists("/proc/stat"):
        assert window.available


def test_contamination_thresholds():
    assert CpuWindow(steal_pct=1.5, iowait_pct=0, available=True).contaminated()
    assert CpuWindow(steal_pct=0.5, iowait_pct=6.0, available=True).contaminated()
    assert not CpuWindow(steal_pct=0.5, iowait_pct=0.5, available=True).contaminated()
    # round-5: co-tenant CPU share gates too (the load1-swing failure
    # mode steal cannot see), with its own threshold
    assert CpuWindow(other_busy_pct=15.0, available=True).contaminated()
    assert not CpuWindow(other_busy_pct=5.0, available=True).contaminated()
    assert not CpuWindow(other_busy_pct=15.0, available=True).contaminated(
        other_busy_limit=20.0
    )


def test_other_busy_pct_from_synthetic_ticks():
    """other_busy = (host busy - our own tree) / total. Synthetic:
    total delta 1000 ticks, idle 500, iowait 100 -> busy 400; our own
    tree consumed 2.0 s at 100 Hz = 200 ticks -> other = 20%."""
    import kgflow.audit as mod

    before = [100, 0, 100, 700, 50, 0, 0, 50]
    after = [300, 0, 300, 1200, 150, 0, 0, 50]
    audit = CpuAudit(before, 10.0)
    orig_ticks, orig_own = mod._cpu_ticks, mod._own_cpu_seconds
    mod._cpu_ticks = lambda: after
    hz = __import__('os').sysconf('SC_CLK_TCK')
    mod._own_cpu_seconds = lambda: 10.0 + 200.0 / hz
    try:
        w = audit.stop()
    finally:
        mod._cpu_ticks, mod._own_cpu_seconds = orig_ticks, orig_own
    assert w.available
    assert w.other_busy_pct == 20.0
    assert w.contaminated()  # 20% co-tenant CPU > 10% limit
    # the window publishes the tree's own CPU-seconds (the
    # noise-invariant half of the record: constant work at varying
    # wall-clock proves host slowness rather than a code regression)
    assert w.own_cpu_s == round(200.0 / hz, 2)


def test_own_cpu_seconds_sees_own_burn():
    """Burning ~0.2 s of CPU in-process must show up in the
    own-tree counter, so it is NOT attributed to co-tenants."""
    import os

    if not os.path.exists('/proc/stat'):
        return
    from kgflow.audit import _own_cpu_seconds

    a = _own_cpu_seconds()
    t0 = __import__('time').process_time()
    x = 0
    while __import__('time').process_time() - t0 < 0.2:
        x += 1
    b = _own_cpu_seconds()
    assert a is not None and b is not None
    assert b - a >= 0.15


def test_own_cpu_counts_reaped_child_exactly_once():
    """A child that burns CPU and is reaped INSIDE the window must be
    counted once — not zero times (its ticks left /proc) and not twice
    (cutime/cstime and RUSAGE_CHILDREN are the same counter; summing
    both deflated other_busy_pct on every fresh-subprocess pipeline
    iteration, letting contaminated windows publish as clean)."""
    import os
    import subprocess
    import sys

    if not os.path.exists('/proc/stat'):
        return
    from kgflow.audit import _own_cpu_seconds

    a = _own_cpu_seconds()
    ct0 = os.times()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    ct1 = os.times()
    b = _own_cpu_seconds()
    assert a is not None and b is not None
    # the child's CPU in ISOLATION: this process's cutime/cstime delta
    # across the reap is exactly the reaped child's burn, untouched by
    # the shared pytest Spark JVM's background threads (GC, heartbeats),
    # which made a fixed upper bound on the whole-tree delta flaky in
    # the full suite (round-5 advice)
    child = (ct1.children_user + ct1.children_system) - (
        ct0.children_user + ct0.children_system
    )
    assert child >= 0.4, f"reaped-child CPU lost: {child:.2f}s"
    burned = b - a
    # the tree delta must include the child ONCE: at least the child's
    # burn (minus tick granularity), and under 2x it plus background
    # slack — a double-count (cutime + RUSAGE_CHILDREN summed) reads
    # >= 2x the child burn
    assert burned >= child - 0.1, f"child burn missing from tree: {burned:.2f}s"
    assert burned < 2 * child, f"reaped-child CPU double-counted: {burned:.2f}s"


def test_jvm_compile_ms_counts_up_across_a_query(spark):
    from kgflow.audit import jvm_compile_ms

    before = jvm_compile_ms(spark)
    (
        spark.range(50_000)
        .selectExpr("id % 7 AS k", "sha2(cast(id AS string), 256) AS h")
        .groupBy("k").count().collect()
    )
    after = jvm_compile_ms(spark)
    assert before is not None and after is not None
    assert after >= before
