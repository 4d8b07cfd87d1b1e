"""Freshness token for stored derived state.

Every stored model and derived frame lives in the content-addressed
parquet store (functions/modelstore.py), keyed by :func:`mtime_token`:
rewriting the parquet under an ``sf_dir`` changes the token, so the
store resolves a NEW location and never serves the old corpus's state.
There are no in-memory caches in front of the store — a hit is a
parquet read (a scan in the requesting session for frames, a pyarrow
read for driver-sized models), which is what the reference's
stage-boundary files are too.  The streaming band index is a catalog
table under the same token (streaming/__init__.py:_band_index_table);
the session catalog is its only registry.
"""

from __future__ import annotations

import os


def clear_all_caches() -> None:
    """No-op: the engine keeps no session-side cache to clear.  Stored
    state is on disk (a cold reset empties the warehouse), and the band
    index rebuilds when its location is gone.  Kept only because the
    benchmark's cold reset (perfbench/worker.py) still calls it."""


def mtime_token(sf_dir: str, table: str) -> int | None:
    """Microsecond mtime of ``{sf_dir}/{table}.parquet`` (newest part
    file when it is a directory); ``None`` when unreadable.  Folded into
    store keys so a rewritten corpus misses instead of serving stale
    derived state."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        stamps = [os.path.getmtime(path)]
        if os.path.isdir(path):
            stamps += [
                os.path.getmtime(os.path.join(path, f))
                for f in os.listdir(path)
            ]
        return int(max(stamps) * 1_000_000)
    except OSError:
        return None
