"""The /proc memory reader on the benchmark's own process and a child."""

import os
import subprocess
import sys
import time
from pathlib import Path

from perfbench.procmem import PeakRss, descendants, process_start_epoch, vm_hwm_kb


def _vm_rss_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1])
    raise AssertionError("no VmRSS line")


def test_own_high_water_mark():
    rss = _vm_rss_kb(os.getpid())
    hwm = vm_hwm_kb(os.getpid())
    assert hwm is not None and hwm >= rss > 0


def test_own_start_time():
    started = process_start_epoch()
    assert time.time() - 3600 < started <= time.time()


def test_child_tree_is_summed_and_gone_after_exit():
    child = subprocess.Popen(
        [sys.executable, "-c", "b = bytearray(64 << 20); import time; time.sleep(30)"],
    )
    try:
        deadline = time.time() + 20
        while (vm_hwm_kb(child.pid) or 0) < 64 << 10 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in descendants(os.getpid())
        mem = PeakRss()
        assert mem.sample() >= 64 << 10
        assert mem.peak_mb >= 64
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
    assert vm_hwm_kb(child.pid) is None
    assert child.pid not in descendants(os.getpid())
