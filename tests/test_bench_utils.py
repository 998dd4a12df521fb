"""The contention fingerprint ``perfbench/run.py`` takes from ``bench``."""

from __future__ import annotations


def test_contention_fingerprint_shapes():
    """The per-block contention fingerprint must carry the three round-8
    forensic signals (wall, host ticks, loadavg) without a live JVM."""
    import time as _time

    from bench import _fingerprint_begin, _fingerprint_end

    class _NoJvm:
        _jvm = None

    begin = _fingerprint_begin(_NoJvm())
    _time.sleep(0.05)
    fp = _fingerprint_end(_NoJvm(), begin)
    assert fp["wall_s"] >= 0.05
    # Linux container: host tick + loadavg probes must be present
    assert "steal_pct" in fp and "busy_pct" in fp and "loadavg_1m" in fp
