"""SPARK_GRAFT_CPUS is read in one validated place (session.cpus_from_env).
No Spark session needed."""

import pytest

from har2tree_spark.session import cpus_from_env


def test_cpus_from_env_default_and_valid(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert cpus_from_env() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert cpus_from_env() == 4


@pytest.mark.parametrize("bad", ["0", "-2", "four", "", "2.5"])
def test_cpus_from_env_rejects_invalid(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match=f"SPARK_GRAFT_CPUS.*{bad!r}"):
        cpus_from_env()
