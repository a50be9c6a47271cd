"""How fast this host runs right now, from a fixed probe.

The benchmark shares a few virtual CPUs of a host with other tenants, and
both what one CPU second buys and how much of each second the hypervisor
gives this machine swing with their load: on a 4-vCPU VM the same code
spent 9.1 to 13.2 CPU seconds per pass in runs minutes apart, and passes
took up to 1.7 times as long while other guests took CPU time away. The
probe is a fixed piece of pure-Python work, independent of the engine
under test, run between ops on one process per CPU at once. A sample is
the wall time of the slowest walk, as a Spark stage waits for its slowest
task, and the CPU time of a typical walk. The benchmark scales wall-time
metrics by ``REFERENCE_WALL_S / median wall`` and CPU-time metrics by
``REFERENCE_CPU_S / median CPU``, so that they read as seconds on a host
where the probe takes the reference times. A change to the engine cannot
move the probe."""

from __future__ import annotations

import random
import subprocess
import sys
import time

# Medians of a sample's two figures between the ops of a run on a quiet
# 4-vCPU VM (Python 3.11); only units, so that scaled figures stay near
# measured seconds.
REFERENCE_WALL_S = 0.02
REFERENCE_CPU_S = 0.0125

_STEPS = 40_000
# A fixed random cycle over 200k list slots (a few MB with the int
# objects): each step is a dependent load that misses the caches as the
# engine's hash tables and sorts do, plus interpreter dispatch.
_rng = random.Random(12345)
_order = list(range(200_000))
_rng.shuffle(_order)
_NEXT = [0] * len(_order)
for _a, _b in zip(_order, _order[1:] + _order[:1]):
    _NEXT[_a] = _b
del _rng, _order, _a, _b


def probe_s() -> float:
    """Seconds for one fixed walk of the cycle."""
    nxt, i = _NEXT, 0
    t0 = time.perf_counter()
    for _ in range(_STEPS):
        i = nxt[i]
    return time.perf_counter() - t0


class Probe:
    """``workers`` processes that walk the cycle together on request.
    ``pids`` are theirs, so that the caller can leave them out of its own
    CPU and memory figures. Use as a context manager: leaving it stops the
    processes and waits for them."""

    def __init__(self, workers: int):
        self._procs = [
            subprocess.Popen([sys.executable, __file__], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(workers)
        ]
        self.pids = frozenset(p.pid for p in self._procs)

    def sample(self) -> tuple[float, float]:
        """Wall seconds of the slowest of the simultaneous walks, and the
        median CPU seconds of one walk. The hypervisor taking a CPU away
        stretches the first; a slower CPU stretches both."""
        for p in self._procs:
            p.stdin.write("\n")
            p.stdin.flush()
        walls, cpus = zip(*(map(float, p.stdout.readline().split()) for p in self._procs))
        return max(walls), sorted(cpus)[len(cpus) // 2]

    def __enter__(self) -> "Probe":
        return self

    def __exit__(self, *exc) -> None:
        for p in self._procs:
            p.stdin.close()  # a worker exits at end of input
        for p in self._procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait(timeout=30)


def _serve() -> None:
    """Worker: one walk per input line; prints its wall and CPU seconds."""
    for _line in sys.stdin:
        c0 = time.process_time()
        wall = probe_s()
        print(wall, time.process_time() - c0, flush=True)


def speed_factor(probes: list[float], reference_s: float) -> float:
    """Multiplier that turns seconds measured alongside ``probes`` into
    seconds on a host whose probe median is ``reference_s``."""
    if not probes:
        raise ValueError("no probe samples")
    s = sorted(probes)
    n = len(s)
    median = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return reference_s / median


if __name__ == "__main__":
    _serve()
