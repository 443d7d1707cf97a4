"""Steal-probe pin: perfbench records ``bench.steal_probe`` before
and after every run on its context line, so the probe must always
report."""

from __future__ import annotations


def test_steal_probe_shape_and_bounds():
    # the probe must always produce n positive timings (a bench that
    # crashes while REPORTING host health would lose the run's
    # numbers), and the workload must be heavy enough to see steal
    # (16M doubles) but bounded
    from bench import steal_probe

    runs = steal_probe(n_runs=2)
    assert len(runs) == 2
    assert all(isinstance(r, float) and r > 0 for r in runs)
