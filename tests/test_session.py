"""Session sizing from the environment."""

import os

from csv_to_jsonld_processor_spark.session import env_cpus


def test_env_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert env_cpus() == len(os.sched_getaffinity(0))


def test_env_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert env_cpus() == 3
