"""session.effective_cpus: the one parse of SPARK_GRAFT_CPUS."""

import os

import pytest

from leann_rs_spark.session import effective_cpus


def test_effective_cpus_reads_the_variable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert effective_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert effective_cpus() == (os.cpu_count() or 4)


def test_effective_cpus_rejects_non_numeric_value(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        effective_cpus()
