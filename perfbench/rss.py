"""Peak resident memory of a Spark driver: this Python process plus its JVM."""

from __future__ import annotations


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
