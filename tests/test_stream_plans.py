"""Streaming state/plan contracts — the stream twin of SHUFFLE_BUDGET.

Batch queries pin shuffle-exchange counts (test_plans.py); streams have
no batch plan to inspect, but their scale contract is just as
assertable: the number of DATA micro-batches the bounded harness input
splits into (a batch-splitting regression multiplies per-commit
overhead), the number of stateful operators (an accidental extra
dedup/agg doubles state), the state-store partition count (sized
deliberately per operator class — see _run_to_table's measurement
notes), and a ceiling on state rows where EVICTION is the contract
(watermarked outer joins must not buffer the corpus). Observed via
StreamingQueryProgress, recorded by `record_stream_stats`
(VERDICT r7 item 4).
"""

from __future__ import annotations

import ast
import importlib
import inspect
import re
import textwrap

import pytest

from etl_portfolio_project_spark import api, caches
from etl_portfolio_project_spark.streaming import events as EV

from .conftest import SF_SMALL

#: registry name → (stats key, data batches, state ops,
#:                  state partitions, max state rows at SF_SMALL)
#: state_rows bounds are ~|keys| with slack for store-format rows;
#: None = unpinned (complete-mode aggs whose state IS the result).
STREAM_CONTRACT = {
    # single-file source → exactly one data batch for the plain reads
    "stream_tumbling_5min": ("stream_tumbling_5min", 1, 1, 1, None),
    "stream_sliding_windows": ("stream_sliding_windows", 1, 1, 1, None),
    "stream_session_windows": ("stream_session_windows", 1, 1, 8, None),
    # dropDuplicatesWithinWatermark = its own state op + the count agg
    "stream_dedup_events": ("stream_dedup_events", 1, 2, 4, None),
    "stream_click_purchase_join": (
        "stream_click_purchase_join", 1, 1, 1, None),
    # [events + sentinel 1] then [sentinel 2] at maxFilesPerTrigger=2
    # → exactly 2 batches (r9 consolidation); the sentinels advance
    # the watermark so the join state EVICTS — a corpus-sized
    # numRowsTotal here means eviction broke
    "stream_click_purchase_left_join": (
        "stream_click_purchase_left_join", 2, 1, 1, 50),
    "stream_enriched_by_segment": (
        "stream_enriched_by_segment", 1, 1, 1, None),
    "stream_approx_quantiles": ("stream_quantile_sketch", 1, 1, 1, None),
    "stream_user_stats": ("stream_user_stats", 1, 1, 8, None),
    # foreachBatch harnesses keep NO store state (their state lives in
    # parquet generations / the checkpoint WAL)
    "stream_latest_user_event": ("stream_latest_user_event", 1, 0, 0, 0),
    # two phases × one file each with a shared checkpoint — a batch
    # count of 3+ means restart re-processed committed offsets
    "stream_checkpoint_restart_ingest": (
        "stream_checkpoint_restart_ingest", 2, 0, 0, 0),
    # SD_NBATCH pre-split batches through the banded index
    "stream_incremental_dedup": ("stream_incremental_dedup", 4, 0, 0, 0),
    # SE_NBATCH pre-split batches through the persisted LSH index
    # (foreachBatch: state lives in parquet generations + manifests)
    "stream_embedding_index_ingest": (
        "stream_embedding_index_ingest", 4, 0, 0, 0),
    # 3 synthetic epochs from the Python DataSource reader
    "stream_python_datasource_ingest": (
        "stream_python_datasource_ingest", 3, 0, 0, 0),
}


@pytest.fixture(scope="module")
def stream_stats(spark):
    """Run every registered stream once at SF_SMALL, collect stats."""
    out = {}
    for name in sorted(n for n in api.REGISTRY if n.startswith("stream_")):
        if name not in STREAM_CONTRACT:
            # test_every_stream_query_has_a_contract reports the
            # missing name cleanly; a KeyError here would error out
            # every parametrized case instead
            continue
        api.REGISTRY[name].builder(spark, SF_SMALL).count()
        caches.release_all()
        out[STREAM_CONTRACT[name][0]] = dict(
            EV.LAST_RUN_STATS[STREAM_CONTRACT[name][0]]
        )
    return out


def test_every_stream_query_has_a_contract():
    streams = {n for n in api.REGISTRY if n.startswith("stream_")}
    missing = sorted(streams - set(STREAM_CONTRACT))
    assert not missing, f"stream queries without a contract: {missing}"


def _stripped_src(fn) -> str:
    """Source of `fn` with every docstring removed ('' if unavailable)."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return ""
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
    return ast.unparse(tree)


def test_streaming_marker_matches_actual_streaming_builders():
    """The `stream_` name prefix must mark exactly the builders that
    execute Structured Streaming micro-batches, detected by a
    docstring-stripped source scan for streaming entry points. This
    file's stream contracts and the batch shuffle budgets in
    test_plans.py both select queries by that prefix, so a streaming
    query without it (or a prefixed query that never streams) would
    escape both checks."""
    pat = re.compile(
        r"readStream|writeStream|foreachBatch|_run_to_table"
        r"|run_bounded|read_events_stream"
    )
    detected = set()
    for name, spec in api.REGISTRY.items():
        src = _stripped_src(spec.raw or spec.builder)
        if not src:
            continue
        # one-hop expansion: builders may delegate the streaming run
        # to a same-module helper (e.g. _sid_run_stream)
        mod = importlib.import_module(spec.module) if spec.module else None
        for called in set(re.findall(r"\b(_?[a-z][a-z0-9_]*)\s*\(", src)):
            helper = getattr(mod, called, None)
            if callable(helper) and getattr(
                helper, "__module__", ""
            ) == spec.module:
                src += "\n" + _stripped_src(helper)
        if pat.search(src):
            detected.add(name)
    assert detected == {n for n in api.REGISTRY if n.startswith("stream_")}


@pytest.mark.parametrize("name", sorted(STREAM_CONTRACT))
def test_stream_contract(stream_stats, name):
    key, batches, ops, parts, rows_max = STREAM_CONTRACT[name]
    got = stream_stats[key]
    assert got["batches"] == batches, (name, got)
    assert got["state_ops"] == ops, (name, got)
    # the effective count is min(designed, session shuffle partitions)
    # — a session-config-dependent value, so pin the designed BOUND
    # (CLAUDE.md: grade the contract bound, never the session value)
    assert got["state_partitions"] <= parts, (name, got)
    assert (got["state_partitions"] > 0) == (ops > 0), (name, got)
    if rows_max is not None:
        assert got["state_rows"] <= rows_max, (name, got)
