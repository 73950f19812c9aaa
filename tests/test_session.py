"""The session factory's defaults (session.py)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_heap_fits_physical_ram():
    """With SPARK_DRIVER_MEM unset, the driver JVM's max heap stays at or
    below physical RAM: a local-mode JVM grows its heap toward the cap
    rather than collecting, so a cap above RAM ends in an OOM kill.

    Runs in a SUBPROCESS: the heap is fixed when the JVM starts, and the
    suite's shared session was started with SPARK_DRIVER_MEM set."""
    script = """
from hiispider_spark.session import get_spark

s = get_spark(cpus=1, shuffle_partitions=1)
print("HEAP", s.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
s.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEM"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    heap = int(out.stdout.split("HEAP")[1].split()[0])
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= ram
