"""Interval timing that discounts CPU time stolen by the hypervisor.

On a shared virtual machine the hypervisor runs other guests on this
guest's physical cores; the time a runnable vCPU waits for them is
reported as ``steal`` in ``/proc/stat``. Measured here, steal swings
between roughly 10% and 50% of the VM's runnable CPU time within
minutes, which moves every wall-clock figure by the same factor
without any change in the program.

:class:`Stopwatch` reports an interval's wall time and its
steal-adjusted time: wall × busy / (busy + stolen), with busy and
stolen CPU jiffies summed over all CPUs for the interval. For work
that keeps its threads runnable this is the wall time the interval
would have taken without steal.
"""

from __future__ import annotations

import time


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class Stopwatch:
    def __init__(self, start: tuple[float, int, int] | None = None):
        self.start = start or (time.monotonic(), *cpu_jiffies())

    def encode(self) -> str:
        """Pass a started stopwatch to another process on this host
        (``time.monotonic`` is system-wide on Linux)."""
        return ",".join(repr(x) for x in self.start)

    @classmethod
    def decode(cls, text: str) -> "Stopwatch":
        t, busy, stolen = text.split(",")
        return cls((float(t), int(busy), int(stolen)))

    def read(self) -> tuple[float, float, float]:
        """(wall s, steal-adjusted s, stolen share of CPU time)."""
        t0, busy0, stolen0 = self.start
        wall = time.monotonic() - t0
        busy1, stolen1 = cpu_jiffies()
        busy, stolen = busy1 - busy0, stolen1 - stolen0
        share = stolen / (busy + stolen) if busy + stolen else 0.0
        return wall, wall * (1.0 - share), share

