"""Focused tests for the r14 OPTIMIZATION round's operator-internal
changes (OPTIMIZATION_r14.md). Each change must keep values
bit-identical — these tests pin the specific internals that changed.
"""

from __future__ import annotations

import json

import pytest


def test_conf_json_malformed_raises_named_error(monkeypatch):
    """ADVICE r13: malformed SPARK_GRAFT_CONF_JSON must fail with an
    error naming the env var, not a bare json traceback."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", "{not json")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONF_JSON"):
        get_spark(app_name="tests", cpus=4, driver_memory="4g")


def test_conf_json_warns_when_session_preexists(spark, monkeypatch):
    """ADVICE r13: getOrCreate() applies RUNTIME-settable builder
    confs to a pre-existing session but silently ignores STATIC ones
    (e.g. spark.driver.memory) — the operator must get a warning
    signal for the ignored class."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON",
        json.dumps(
            {
                "spark.graft.test.runtime": "took-effect",  # runtime: applies
                "spark.driver.memory": "31g",  # static: ignored -> warn
            }
        ),
    )
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CONF_JSON"):
        got = get_spark(app_name="tests", cpus=4, driver_memory="4g")
    # runtime-settable conf DID land on the reused session
    assert got.conf.get("spark.graft.test.runtime") == "took-effect"


def test_conf_json_applies_on_fresh_builder(monkeypatch):
    """The env override must land in the builder AFTER extra_conf
    (env intent wins over code-level defaults) — checked at the
    builder-options level so no second SparkSession is needed."""
    from pyspark.sql import SparkSession

    captured = {}

    class _FakeBuilder:
        def master(self, *_a):
            return self

        def appName(self, *_a):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise _Stop()

    class _Stop(Exception):
        pass

    monkeypatch.setattr(
        SparkSession, "builder", _FakeBuilder(), raising=False
    )
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON", json.dumps({"spark.graft.test": "env"})
    )
    from etl_portfolio_project_spark.session import get_spark

    with pytest.raises(_Stop):
        get_spark(extra_conf={"spark.graft.test": "code"})
    assert captured["spark.graft.test"] == "env"


def _sei_epoch_plan(spark) -> str:
    from etl_portfolio_project_spark.operators.similarity import (
        _sei_epoch_sql,
    )

    vecs = spark.range(4).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE)) AS vec",
        "1.0D AS norm",
        "array(named_struct('tbl', 0, 'bucket', id)) AS tb",
    )
    vecs.createOrReplaceTempView("sei_vecs")
    vecs.createOrReplaceTempView("sei_idx")
    return (
        spark.sql(_sei_epoch_sql())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _sid_epoch_plan(spark) -> str:
    from etl_portfolio_project_spark.operators.dedup import _sid_epoch_sql

    sigs = spark.range(4).selectExpr(
        "id AS doc_id",
        "array(id) AS items",
        "transform(sequence(0, 31), i -> id + i) AS sig",
    )
    sigs.createOrReplaceTempView("sid_sigs")
    sigs.createOrReplaceTempView("sid_idx")
    return (
        spark.sql(_sid_epoch_sql())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


@pytest.mark.parametrize("plan_fn", [_sei_epoch_plan, _sid_epoch_plan])
def test_stream_epoch_joins_broadcast_the_batch_side(spark, plan_fn):
    """r14 opt (guide §3): every per-epoch index join in the two
    streaming-ingest operators must be a broadcast join with the
    BATCH-derived side as the build side — the index grows without
    bound and must never be shuffled or broadcast. The epoch SQL is
    module-level exactly so this shape is pinned without running the
    stream."""
    plan = plan_fn(spark)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan

