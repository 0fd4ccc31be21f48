"""``session.resolve_cpus``: the local-master width fails loudly on bad
configuration instead of falling back to another width. No session is
started."""

from __future__ import annotations

import pytest

from akkastreamprocessnpmpackagedependencies_spark.session import resolve_cpus


@pytest.mark.parametrize("bad", [0, -1, "", "0", "-2", "4.0", "eight", True])
def test_resolve_cpus_rejects_non_positive_integers(bad):
    with pytest.raises(ValueError, match="positive integer"):
        resolve_cpus(bad)


def test_resolve_cpus_rejects_bad_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    with pytest.raises(ValueError):
        resolve_cpus()


@pytest.mark.parametrize("good, want", [(8, 8), ("4", 4), (" 2 ", 2)])
def test_resolve_cpus_accepts_positive_integers(good, want):
    assert resolve_cpus(good) == want


def test_resolve_cpus_falls_back_to_env_then_32(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert resolve_cpus() == 6
    assert resolve_cpus(3) == 3  # an explicit value wins over the env
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert resolve_cpus() == 32
