"""`get_spark` core-count resolution: the argument, then
`$SPARK_GRAFT_CPUS`, then the cores this process may run on. Checked at
the builder level, so no second SparkSession is started."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from etl_portfolio_project_spark.session import get_spark


class _Stop(Exception):
    pass


@pytest.fixture
def captured(monkeypatch):
    seen: dict[str, str] = {}

    class _FakeBuilder:
        def master(self, m):
            seen["master"] = m
            return self

        def appName(self, *_a):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            raise _Stop()

    monkeypatch.setattr(SparkSession, "builder", _FakeBuilder(), raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    return seen


def _build(**kw) -> None:
    with pytest.raises(_Stop):
        get_spark(**kw)


def test_cpus_default_to_host_cores(captured, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    _build()
    n = len(os.sched_getaffinity(0))
    assert captured["master"] == f"local[{n}]"
    assert captured["spark.sql.shuffle.partitions"] == str(n)


def test_cpus_env_then_argument_take_precedence(captured, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    _build()
    assert captured["master"] == "local[3]"
    _build(cpus=2)
    assert captured["master"] == "local[2]"
