"""Freshness token for stored derived state, and the one session map.

Every stored model and derived frame lives in the content-addressed
parquet store (functions/modelstore.py), keyed by :func:`mtime_token`:
rewriting the parquet under an ``sf_dir`` changes the token, so the
store resolves a NEW location and never serves the old corpus's state.
There are no in-memory caches in front of the store — a hit is a
parquet read (a scan in the requesting session for frames, a pyarrow
read for driver-sized models), which is what the reference's
stage-boundary files are too.

The one map the session still keeps is :data:`BAND_INDEX_TABLES`, the
names of the streaming band-index tables this application has written
(streaming/__init__.py); :func:`clear_all_caches` forgets it.
"""

from __future__ import annotations

import os

# (applicationId, sf_dir, documents mtime token) -> warehouse table name
BAND_INDEX_TABLES: dict[tuple, str] = {}


def clear_all_caches() -> None:
    """Forget the streaming band-index names, so the next streaming
    MinHash probe rewrites its index.  Safe at any point between
    queries; stored models and frames are on disk and need no release."""
    BAND_INDEX_TABLES.clear()


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
