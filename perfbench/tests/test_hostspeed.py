"""The host-speed probe and the factor that scales time metrics by it."""

import pytest

from perfbench import hostspeed
from perfbench.hostspeed import Probe, probe_s, speed_factor


def test_probe_walks_one_cycle_through_every_slot():
    nxt, i, seen = hostspeed._NEXT, 0, set()
    for _ in range(len(nxt)):
        seen.add(i)
        i = nxt[i]
    assert i == 0 and len(seen) == len(nxt)


def test_probe_takes_time():
    assert probe_s() > 0


def test_probe_workers_answer_and_stop():
    with Probe(2) as probe:
        assert len(probe.pids) == 2
        wall, cpu = probe.sample()
        assert wall > 0 and cpu > 0
        procs = probe._procs
    assert all(p.poll() is not None for p in procs)


def test_factor_is_reference_over_median():
    assert speed_factor([0.03], 0.03) == pytest.approx(1.0)
    # a host twice as slow halves the scaled seconds; outliers do not count
    assert speed_factor([0.06, 0.06, 0.06, 100.0, 1e-6], 0.03) == pytest.approx(0.5)
    assert speed_factor([1.0, 3.0], 0.03) == pytest.approx(0.03 / 2.0)


def test_factor_needs_samples():
    with pytest.raises(ValueError):
        speed_factor([], 0.03)
