"""Per-block contention fingerprint for ``perfbench/run.py``: wall time,
whole-JVM CPU, host steal/busy tick shares and loadavg over a measured
block. The repository's benchmark is ``python3 perfbench/run.py``; this
module is not a benchmark of its own."""

from __future__ import annotations

import os
import sys
import time


def _host_ticks() -> dict:
    """Cheap host-state snapshot: /proc/stat cpu ticks — STEAL is the
    sharpest external-contention signal on a virtualized host — plus
    1-minute loadavg. Empty dict on non-Linux."""
    out: dict = {}
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        # busy = user+nice+system+irq+softirq; the denominator must also
        # carry idle+iowait+steal or an I/O-heavy block under-counts
        # elapsed ticks and inflates every percentage ~1.4x.
        # guest/guest_nice (fields 9-10) are already folded
        # into user by the kernel — adding them would double-count.
        if first and first[0] == "cpu" and len(first) > 8:
            busy = sum(int(v) for v in first[1:4]) + int(first[6]) + int(
                first[7]
            )
            out["busy"] = busy
            out["idle"] = int(first[4]) + int(first[5])  # idle + iowait
            out["steal"] = int(first[8])
    except OSError:  # pragma: no cover - non-Linux
        pass
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg_1m"] = float(fh.read().split()[0])
    except OSError:  # pragma: no cover - non-Linux
        pass
    return out


def _jvm_cpu_ns(spark) -> tuple[int, int] | None:
    """Whole-JVM process CPU time (executors live in the driver JVM in
    local mode), read from /proc/<jvm-pid>/stat utime+stime — the
    management bean's getProcessCpuTime lives on a jdk.management
    INTERNAL class that Java 17 strong encapsulation hides from py4j
    reflection, so the portable JVM call is just the pid (ProcessHandle,
    public API) and the accounting comes from the kernel. The pid is
    RE-RESOLVED on every call (one cheap py4j round-trip per
    fingerprint): a module-global cache silently attributed another
    process's ticks after an in-process JVM restart or pid recycling.
    Returns (pid, cpu_ns) so the delta consumer can refuse to diff
    readings from two different JVMs; None when unavailable (Spark
    Connect, non-Linux)."""
    try:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            # field 2 (comm) may contain spaces — split after the ')'
            parts = fh.read().rsplit(")", 1)[1].split()
        ticks = int(parts[11]) + int(parts[12])  # utime + stime
        return pid, ticks * (1_000_000_000 // os.sysconf("SC_CLK_TCK"))
    except Exception:  # noqa: BLE001 — fingerprint is best-effort
        return None


def _fingerprint_begin(spark) -> dict:
    return {
        "t0": time.perf_counter(),
        "ticks": _host_ticks(),
        "jvm_ns": _jvm_cpu_ns(spark),
    }


def _fingerprint_end(spark, begin: dict) -> dict:
    """Per-block contention fingerprint: wall, JVM-CPU/wall ratio (an
    8-25x-inflated task CPU on identical work is the signature of a
    contended host), host steal/busy tick shares over the block, and end-of-
    block loadavg. All deltas, so blocks are comparable across runs."""
    wall = time.perf_counter() - begin["t0"]
    out: dict = {"wall_s": round(wall, 3)}
    jvm0, jvm1 = begin.get("jvm_ns"), _jvm_cpu_ns(spark)
    # pid must match across the block: a JVM restart mid-block would
    # otherwise yield a nonsense (often negative) delta between two
    # unrelated processes' tick counters.
    if (
        jvm0 is not None
        and jvm1 is not None
        and jvm0[0] == jvm1[0]
        and wall > 0
    ):
        cpu_s = (jvm1[1] - jvm0[1]) / 1e9
        out["jvm_cpu_s"] = round(cpu_s, 3)
        out["cpu_wall_ratio"] = round(cpu_s / wall, 2)
    t0, t1 = begin.get("ticks", {}), _host_ticks()
    if "steal" in t0 and "steal" in t1:
        total = sum(t1[k] - t0[k] for k in ("busy", "idle", "steal"))
        if total > 0:
            out["steal_pct"] = round(100 * (t1["steal"] - t0["steal"]) / total, 3)
            out["busy_pct"] = round(100 * (t1["busy"] - t0["busy"]) / total, 1)
    if "loadavg_1m" in t1:
        out["loadavg_1m"] = t1["loadavg_1m"]
    return out


if __name__ == "__main__":
    sys.exit("bench.py is not a benchmark; run python3 perfbench/run.py")
