"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
- AQE enabled (runtime coalescing, skew-join splitting) — at 100 TB
  this is what re-plans a sort-merge join to broadcast after a
  selective filter, and splits skewed partitions.
- shuffle.partitions sized to cores locally; on a 1000-executor
  cluster this would be ~2-3× total cores (AQE coalesces down).
- Arrow enabled for the (rare) pandas-interchange paths.
- Session timezone pinned to UTC so date/timestamp semantics are
  reproducible and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_portfolio_project_spark",
    cpus: int | str | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    `cpus` falls back to `$SPARK_GRAFT_CPUS`, then to the number of
    cores this process may run on.
    """
    cpus = (
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # scale-dependent overrides without code edits (r13 opt): a JSON
    # object of conf key/values, e.g. production advisory partition
    # sizing — local defaults above stay the bench-comparable baseline.
    # Applied AFTER extra_conf (ADVICE r13: the operator's env intent
    # wins over code-level defaults), with a named error on bad JSON.
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json

        try:
            overrides = json.loads(env_conf)
        except ValueError as e:
            raise ValueError(
                f"SPARK_GRAFT_CONF_JSON is not valid JSON: {e}"
            ) from e
        for k, v in overrides.items():
            builder = builder.config(k, str(v))
    pre = SparkSession.getActiveSession()
    spark = builder.getOrCreate()
    # when a session already exists, getOrCreate() applies only
    # RUNTIME SQL confs (static ones — driver memory, master — are
    # ignored; Spark merely logs a JVM-side warning). Surface that on
    # the Python side so a production operator setting scale overrides
    # gets a signal instead of silence (ADVICE r13). Per-key detection
    # is impossible here: Spark 4 copies every builder option into the
    # reused session's conf map, so conf.get() reflects the override
    # even when it had no effect.
    if env_conf and pre is not None and spark is pre:
        import warnings

        warnings.warn(
            "SPARK_GRAFT_CONF_JSON: pre-existing SparkSession reused — "
            "only runtime SQL confs took effect; static confs were "
            "ignored",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session_for_determinism(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect result reproducibility.

    Safe to call on a session we did not create (e.g. the driver's):
    only runtime-settable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
