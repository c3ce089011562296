"""Host-speed adjustment arithmetic."""
from __future__ import annotations

import time

import pytest

from perfbench import hostspeed
from perfbench.hostspeed import REFERENCE_S, HostSpeed


def sampled(pairs):
    """A HostSpeed holding the given (start, probe CPU s) samples."""
    host = HostSpeed()
    host.starts = [t for t, _ in pairs]
    host.cpu_s = [c for _, c in pairs]
    return host


def test_probe_is_the_median_within_the_interval():
    host = sampled([(t, 1.0 + t % 3) for t in range(20)])
    # probes started at 3..9: 1, 2, 3, 1, 2, 3, 1
    assert host.probe_s(3, 9) == 2.0


def test_short_interval_widens_to_min_samples(monkeypatch):
    monkeypatch.setattr(hostspeed, "MIN_SAMPLES", 5)
    host = sampled([(float(t), float(t)) for t in range(20)])
    # no probe started in [10.2, 10.4]: one more on each side per step,
    # until 8..13 (six probes)
    assert host.probe_s(10.2, 10.4) == 10.5
    # widening stops at the start of the run: probes 0..4
    assert host.probe_s(-5, -4) == 2.0


def test_adjusted_time_scales_by_reference_over_probe():
    host = sampled([(float(t), 2 * REFERENCE_S) for t in range(10)])
    # the host ran at half the reference speed: half the wall time
    assert host.adjusted(2.0, 6.0) == pytest.approx(2.0)
    assert host.ratio() == pytest.approx(2.0)


def test_no_probe_yet_is_an_error():
    with pytest.raises(RuntimeError):
        HostSpeed().probe_s(0.0, 1.0)


def test_thread_samples_and_stops():
    host = HostSpeed().start()
    time.sleep(10 * hostspeed.INTERVAL_S)
    host.stop()
    assert not host._thread.is_alive()
    assert len(host.starts) == len(host.cpu_s) >= 3
    assert all(c > 0 for c in host.cpu_s)
