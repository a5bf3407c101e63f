"""Host speed: how fast the shared machine runs while a phase is timed.

The benchmark gets a few virtual CPUs of a shared machine. How fast they
execute swings by up to a factor of two from one minute to the next, as
other tenants load the same cores, and for part of the time the hypervisor
runs someone else on them (steal). Both move every timed figure by more
than the bound a code change is judged by. So each timed phase is measured
together with two gauges, and its time is reported at a reference speed:

- ``calibrate``: the thread CPU time of a fixed numpy sort, timed several
  times during the phase. Over a seven-minute closed loop in one process
  its speed followed the query path's more closely (correlation 0.9 with
  the median latency of 7-second blocks) than interpreter, dict or random
  memory access kernels did. Thread CPU time leaves out time the thread
  waited for the GIL or for a CPU, so a change to the package that adds
  threads or lock waits in this process still shows in the scaled figures;
  only the speed of the CPU itself is divided out.
- the share of all CPU time that the hypervisor stole over the phase, read
  from ``/proc/stat``.

    scaled time = wall time * (1 - steal share) * REF_MS / median(kernel ms)

The raw figures are printed beside the scaled ones on standard error.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

# The kernel's typical thread CPU time on the 4-vCPU host the benchmark
# was tuned on: scaled times read as times at that speed.
REF_MS = 0.25
_ARRAY = np.random.default_rng(0).random(4096)


def calibrate() -> float:
    """Thread CPU milliseconds of one run of the fixed kernel."""
    t = time.thread_time()
    for _ in range(8):
        np.sort(_ARRAY)
    return (time.thread_time() - t) * 1000.0


def cpu_times() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far; (0, 0) when
    ``/proc/stat`` cannot be read or has no steal column."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


class Gauge:
    """The kernel timings and the steal share over one timed phase."""

    def __init__(self):
        self.kernel_ms: list[float] = []
        self._t0 = cpu_times()
        self._t1: tuple[int, int] | None = None

    def sample(self):
        self.kernel_ms.append(calibrate())

    def stop(self):
        self._t1 = cpu_times()

    @property
    def steal(self) -> float:
        t1 = self._t1 or cpu_times()
        total = t1[1] - self._t0[1]
        return (t1[0] - self._t0[0]) / total if total > 0 else 0.0

    @property
    def factor(self) -> float:
        """Multiply a wall time of the phase by this to get it at the
        reference speed."""
        return (1.0 - self.steal) * REF_MS / statistics.median(self.kernel_ms)


@contextmanager
def sampled(interval_s: float = 0.2):
    """A gauge over the block whose kernel a background thread times every
    ``interval_s`` seconds: for phases whose work runs in other processes
    while this one waits."""
    g = Gauge()
    stop = threading.Event()

    def loop():
        while True:
            g.sample()
            if stop.wait(interval_s):
                return

    th = threading.Thread(target=loop, name="host-gauge", daemon=True)
    th.start()
    try:
        yield g
    finally:
        stop.set()
        th.join()
        g.stop()
