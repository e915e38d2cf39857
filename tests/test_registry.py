"""Registry import contract: importing `api` reads only the package's
own sources, and the registry keeps plain registration order."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from etl_portfolio_project_spark import api

from .conftest import REPO

_PROBE = """
import json, os, sys

opened = []


def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.path.abspath(os.fsdecode(args[0])))


sys.addaudithook(hook)
from etl_portfolio_project_spark import api

print(json.dumps({"opened": opened, "order": list(api.REGISTRY)}))
"""


def test_import_reads_no_repo_file_and_keeps_registration_order():
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    root = REPO + os.sep
    # a .py source, or its compiled bytecode under __pycache__
    stray = [
        p for p in got["opened"]
        if p.startswith(root)
        and not p.endswith(".py")
        and not (p.endswith(".pyc") and f"{os.sep}__pycache__{os.sep}" in p)
    ]
    assert stray == [], f"importing api opened non-source files: {stray}"
    assert got["order"][:6] == [
        "src_join_projection",
        "join_left_extension",
        "region_clean",
        "region_clean_wratio",
        "loan_final",
        "loan_monthly_schedule",
    ]


def test_every_spec_has_a_module():
    """QuerySpec.module names the operator module a query is charged
    to (perfbench's per-module build/exec split) and is where the
    streaming-marker scan looks up helpers; an empty module would drop
    the query from both."""
    missing = [
        n for n, s in api.REGISTRY.items()
        if not s.module.startswith("etl_portfolio_project_spark")
    ]
    assert missing == [], f"specs with no usable module: {missing}"
