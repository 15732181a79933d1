"""Host-noise records and resource measurements of a run.

Steal and the calibration probe are reported beside the results so a
reader can tell a noisy host from a slower program; they never filter or
adjust a run.
"""

from __future__ import annotations

import os
import resource
import sys

from flink_invoice_processor_spark.session import calibration_probe, cpu_stat, steal_pct


class StealBracket:
    """``/proc/stat`` steal over the measured region."""

    def __init__(self):
        self.before = cpu_stat()

    def pct(self) -> float:
        return steal_pct(self.before, cpu_stat()) or 0.0


def probe(spark) -> dict:
    """The session module's fixed-work probe, one timed repetition."""
    return calibration_probe(spark, reps=1)


def git_sha(root: str) -> str:
    """Commit of the code under test, or ``unknown`` outside a git
    checkout (the benchmark usually runs in an exported tree)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from gitinfo import git_head
    finally:
        sys.path.pop(0)
    return git_head(root)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory of this driver process plus the JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own_kb + _vm_hwm_kb(jvm)) / 1024.0
