"""Session-lifetime temp-directory tracker.

Several operators materialize intermediate state to disk-backed temp
dirs (memory-sink→parquet swaps, SCD1 generation roots, bucketed-table
layouts, sentinel-augmented stream inputs). Before this module each
call leaked its `tempfile.mkdtemp` forever: perfbench repeats each
op over warm-up and timed passes and `tools/verify_local.py` runs the
whole registry in one session, so a full session traded the
bounded-heap fix for unbounded /tmp growth holding full result copies.

`claim(key, prefix)` returns a fresh dir and deletes the PREVIOUS dir
claimed under the same key — at most ONE live generation per logical
consumer, regardless of how many times a query re-runs. All live dirs
are removed at interpreter exit.

Contract: a DataFrame returned by builder run N reads files under run
N's dir; calling the same builder again (run N+1) retires run N's dir,
so consume (collect/write) each returned DataFrame before re-invoking
its builder. Every harness (perfbench, verify, driver, pytest) already
works this way.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_LIVE: dict[str, str] = {}


def claim(key: str, prefix: str) -> str:
    """New temp dir for `key`; the superseded generation is removed."""
    new = tempfile.mkdtemp(prefix=prefix)
    old = _LIVE.get(key)
    _LIVE[key] = new
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
    return new


def live_count() -> int:
    """Number of currently-live tracked dirs (test hook)."""
    return len(_LIVE)


def is_live(key: str) -> bool:
    """Whether `key` currently holds a live generation (test hook)."""
    return key in _LIVE


def live_path(key: str) -> str:
    """The CURRENT generation's dir for `key` (test/inspection hook —
    raises KeyError if the key has no live generation). Callers must
    not outlive the next claim() on the same key."""
    return _LIVE[key]


@atexit.register
def _cleanup() -> None:
    for d in _LIVE.values():
        shutil.rmtree(d, ignore_errors=True)
    _LIVE.clear()
