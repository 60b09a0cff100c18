#!/usr/bin/env python3
"""CPU speed probe: how fast this machine runs fixed work right now.

On a shared host the same instructions cost a different amount of CPU
time from one moment to the next (other tenants on the sibling
hardware threads and in the shared caches slow a core without taking
its time slice away). A fixed pure-Python loop, timed on its own
thread's CPU clock while a query runs, slows with it; dividing by its
slowdown took most of the run-to-run spread out of the benchmark's
CPU figure (README.md, Steadiness).
``run.py`` divides each query's CPU seconds by the slowdown over the
query's span, the probe's median sample time there over ``REF_S``,
giving CPU seconds at a fixed reference speed.

The probe is a child process, so its own CPU time is never counted as
the engine's. It takes about ``REF_S`` of CPU every ``PAUSE_S``, a few
per cent of one core.

    python3 perfbench/probe.py   # prints "<perf_counter> <cpu seconds>" lines until stdin closes

Sample times are ``time.perf_counter()`` readings, the system-wide
monotonic clock on Linux, so they compare with the parent's timers.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import threading
import time

SPIN = 20_000  # loop iterations per sample
PAUSE_S = 0.05
# CPU seconds one sample takes at the reference speed, the speed of the
# shared 4-core VM the benchmark was tuned on in a quiet moment.
REF_S = 0.002


def spin() -> float:
    t0 = time.thread_time()
    x = 0
    for i in range(SPIN):
        x += i * i % 7
    return time.thread_time() - t0


def child() -> None:
    """Sample until the parent closes stdin (checked between samples)."""
    import select

    while True:
        dt = spin()
        print(f"{time.perf_counter():.6f} {dt:.9f}", flush=True)
        ready, _, _ = select.select([sys.stdin], [], [], PAUSE_S)
        if ready and not sys.stdin.read(1):
            return


class SpeedProbe:
    """Runs the probe child and keeps its samples in memory."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []
        self._proc = subprocess.Popen(
            [sys.executable, __file__], stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, text=True,
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self._proc.stdout:
            t, dt = line.split()
            self.samples.append((float(t), float(dt)))

    def slowdown(self, start: float, end: float) -> float:
        """Median sample time between two ``time.perf_counter()`` readings,
        over ``REF_S``; with no sample in between, over the whole run."""
        got = [dt for t, dt in self.samples if start <= t <= end]
        if not got:
            got = [dt for _, dt in self.samples] or [REF_S]
        return statistics.median(got) / REF_S

    def stop(self) -> None:
        self._proc.stdin.close()
        self._proc.wait(timeout=30)
        self._reader.join(timeout=30)


if __name__ == "__main__":
    child()
