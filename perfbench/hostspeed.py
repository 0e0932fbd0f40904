"""Host-speed probe: a child process that times a fixed piece of
pure-Python work, in its own CPU seconds, twice a second for as long as
a run lasts.

The benchmark gets a few cores of a shared host, and what a CPU second
buys drifts with the other tenants' load: on a 4-CPU slice the engine's
wall time and CPU time both doubled within ten minutes, with the same
inputs. The probe shares no code with the engine and counts CPU time,
so waiting for a core the run keeps busy does not slow it; its median
over a run says how fast the host was, and the end-to-end times are
scaled to a reference host by it (``run.py``).

The child exits when its standard input closes, so it ends with the
benchmark even if the benchmark is killed.
"""

from __future__ import annotations

import select
import statistics
import subprocess
import sys
import time

INTERVAL_S = 0.5
#: loop iterations of one sample, about 12 ms of CPU
WORK = 100_000


def _work() -> float:
    t0 = time.process_time()
    acc = 0
    for i in range(WORK):
        acc += i * i % 7
    return time.process_time() - t0


class HostProbe:
    """Runs the probe for the lifetime of a ``with`` block."""

    def __enter__(self) -> "HostProbe":
        self.proc = subprocess.Popen(
            [sys.executable, __file__],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.samples: list[float] | None = None
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> list[float]:
        """Stop the probe (once) and return its samples, in seconds."""
        if self.samples is None:
            self.proc.stdin.close()
            out = self.proc.stdout.read()
            self.proc.wait()
            self.samples = [float(x) for x in out.split()]
        return self.samples

    def median_s(self) -> float:
        return statistics.median(self.stop())


if __name__ == "__main__":
    while not select.select([sys.stdin], [], [], INTERVAL_S)[0]:
        print(f"{_work():.6f}", flush=True)
