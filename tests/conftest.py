"""Shared fixtures: one SparkSession per test session, small-sf dirs."""

from __future__ import annotations

import pytest

from conversadocs_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="conversadocs-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir():
    return SF_ORACLE


@pytest.fixture
def call_dirs(monkeypatch):
    """Every directory ``scratch.call_dir`` hands out during the test,
    listed per kind in call order."""
    from conversadocs_spark import scratch

    made: dict[str, list[str]] = {}
    real = scratch.call_dir

    def record(kind: str) -> str:
        made.setdefault(kind, []).append(real(kind))
        return made[kind][-1]

    monkeypatch.setattr(scratch, "call_dir", record)
    return made
