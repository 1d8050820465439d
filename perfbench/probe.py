"""Host-speed probe: a validity stamp, not a correction.

The CPU speed of a shared virtual machine drifts: on the 4-vCPU box this
benchmark was written on, a fixed single-threaded loop ran up to 1.7x
slower in some 10-second windows than in others.  So a run measures the
host alongside the engine: a separate process repeats a fixed kernel
every ``PERIOD_S`` and logs the CPU time it took.
:meth:`HostProbe.slowdown` is the median kernel time inside an interval
over ``REFERENCE_S``.  The benchmark prints it and calls a run invalid
when it falls outside ``VALID_SLOWDOWN``; it does not rescale the
engine's figures by it, because the kernel also slows down when the
engine itself keeps more cores busy (shared caches, all-core clocks).

The kernel takes about 5 % of one CPU.  CPU time, not wall time, is used
so that the probe waiting for a CPU the engine holds does not read as a
slow host.

    python3 perfbench/probe.py <log path>     # the probe process itself
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time

PERIOD_S = 0.05
KERNEL_ROUNDS = 2500
REFERENCE_S = 0.0022  # kernel CPU time at the reference host speed
# slowdowns a valid run stays within.  The reference host drifted up to
# 1.7x; a host twice as slow (or fast) is too unlike it to compare against.
VALID_SLOWDOWN = (0.5, 2.0)


def kernel() -> None:
    h = b"perfbench"
    for _ in range(KERNEL_ROUNDS):
        h = hashlib.md5(h).digest()


def _loop(path: str) -> None:
    with open(path, "w") as out:
        while True:
            t = time.time()
            c = time.process_time()
            kernel()
            out.write(f"{t} {time.process_time() - c}\n")
            out.flush()
            time.sleep(max(0.0, PERIOD_S - (time.time() - t)))


class HostProbe:
    """Runs the probe process from construction until :meth:`stop`."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), path],
            stdin=subprocess.DEVNULL,
        )
        self._samples: list[tuple[float, float]] | None = None

    def stop(self) -> None:
        if self._proc.poll() is None:
            self._proc.terminate()
        self._proc.wait(timeout=10)
        samples = []
        if os.path.exists(self.path):
            with open(self.path) as fh:
                for line in fh:
                    parts = line.split()
                    if len(parts) == 2:
                        samples.append((float(parts[0]), float(parts[1])))
        self._samples = samples

    def slowdown(self, t0: float, t1: float) -> float:
        """Median kernel time within [t0, t1] over the reference; 1.0 when
        the interval holds no sample."""
        inside = [d for t, d in self._samples or () if t0 <= t <= t1]
        return statistics.median(inside) / REFERENCE_S if inside else 1.0


if __name__ == "__main__":
    _loop(sys.argv[1])
