"""tools/machine_probe.py refuses a probe level it cannot pin."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PROBE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "machine_probe.py"
)


def _load_probe():
    spec = importlib.util.spec_from_file_location("machine_probe", _PROBE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_level_above_affinity_set_raises_before_any_process(monkeypatch):
    probe = _load_probe()

    def no_processes(*_a, **_k):
        raise AssertionError("a multiprocessing context was requested")

    monkeypatch.setattr(probe.mp, "get_context", no_processes)
    too_many = len(os.sched_getaffinity(0)) + 1
    with pytest.raises(ValueError, match="exceeds"):
        probe.run_level(probe._bw_proc, too_many, 1)


def test_pins_to_the_affinity_set():
    probe = _load_probe()
    allowed = sorted(os.sched_getaffinity(0))
    assert probe.pin_cpus(len(allowed)) == allowed
    assert probe.pin_cpus(1) == allowed[:1]
