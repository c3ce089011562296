"""The host's CPU speed while a run measures, and times adjusted to it.

The benchmark runs on a few cores of a shared machine whose CPU speed
swings by up to ~45% within seconds as the machine's load changes:
the CPU time of a fixed pure-Python loop (``probe``) moves with wall
time, so this is the clock or the core slowing down, not the process
waiting for a core.  A run's wall-clock median then depends on the
host's state during its ~20 s more than on the program.

``HostSpeed`` times the probe every ``INTERVAL_S`` on a background
thread, as CPU time of that thread (so the program's own load on the
cores does not slow the probe down, only the host's speed does).  An
interval measured on the host's clock is adjusted to the reference
speed by ``REFERENCE_S / probe``, where ``probe`` is the median probe
time within the interval.  The probe is a pure-Python loop that stays
in the core's own caches, so the program's memory traffic does not
slow it either; it takes ~0.3 ms of one core every 50 ms.
"""
from __future__ import annotations

import bisect
import statistics
import threading
import time

# CPU time of one probe on the reference host (4 vCPUs of a shared
# x86-64 machine, /proc/cpuinfo 2100 MHz) in its fast state; adjusted
# times are times on that host at that speed.  Any constant works: it
# only sets the scale of the adjusted times.
REFERENCE_S = 0.30e-3
PROBE_ITERATIONS = 5_000
INTERVAL_S = 0.05
MIN_SAMPLES = 20   # 1 s of probes: one probe varies by ~20%


def probe() -> int:
    s = 0
    for k in range(PROBE_ITERATIONS):
        s += k * k
    return s


class HostSpeed:
    """Probe times sampled on a background thread between ``start``
    and ``stop``."""

    def __init__(self):
        self.starts: list[float] = []   # perf_counter at each probe
        self.cpu_s: list[float] = []    # CPU time each probe took
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            t = time.perf_counter()
            c = time.thread_time()
            probe()
            self.cpu_s.append(time.thread_time() - c)
            self.starts.append(t)

    def start(self) -> "HostSpeed":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def probe_s(self, t0: float, t1: float) -> float:
        """Median probe time over [t0, t1], widened on both sides until
        it holds ``MIN_SAMPLES`` probes (or all of them)."""
        starts, cpu = list(self.starts), self.cpu_s[:len(self.starts)]
        if not starts:
            raise RuntimeError("no host-speed probe has run yet")
        lo = bisect.bisect_left(starts, t0)
        hi = bisect.bisect_right(starts, t1)
        while hi - lo < MIN_SAMPLES and (lo > 0 or hi < len(starts)):
            lo, hi = max(lo - 1, 0), min(hi + 1, len(starts))
        return statistics.median(cpu[lo:hi])

    def adjusted(self, t0: float, t1: float) -> float:
        """Wall time ``t1 - t0`` at the reference host speed."""
        return (t1 - t0) * REFERENCE_S / self.probe_s(t0, t1)

    def ratio(self) -> float:
        """Median probe time over the whole run / the reference."""
        return statistics.median(self.cpu_s) / REFERENCE_S
