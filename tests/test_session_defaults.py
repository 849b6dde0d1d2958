"""The session's default core count follows the box: the cores this
process may run on, unless SPARK_GRAFT_CPUS says otherwise.  No session
is started."""

from __future__ import annotations

import os

from s2_geometry_rust_spark.session import default_cpus


def test_default_cpus_is_the_affinity_set_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
