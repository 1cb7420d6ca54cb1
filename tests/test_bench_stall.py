"""bench.py's stall detector (stall_flags), replayed on recorded probes."""

from __future__ import annotations

from bench import stall_flags


def test_probe_drift_flags_passes_one_and_two_and_the_run():
    """Probes that drift 2.5x with two of three passes degraded: a median
    baseline is itself degraded and flags nothing."""
    degraded, run_flag = stall_flags([0.103, 0.17, 0.263, 0.114])
    assert degraded == [False, True, True]
    assert run_flag


def test_steady_probes_flag_nothing():
    assert stall_flags([0.1, 0.11, 0.105, 0.12]) == ([False, False, False], False)
