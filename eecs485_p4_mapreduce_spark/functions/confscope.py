"""Child-session scoping for query-local SQLConf overrides.

A handful of queries need execution confs that differ from the
session's (bloom-filter injection thresholds, AQE coalescing, dynamic
partition overwrite, SQL scripting, streaming state-partition width).
Through round 5 they used set/try/finally-restore on the SHARED
session, which is correct only under the engine's serial-per-session
submission model: a query planned concurrently inside the window would
inherit a foreign conf (the caveat formerly documented at
operators/joins.py).

``spark.newSession()`` removes the assumption entirely: the child
shares the SparkContext, the external catalog, and the block-manager
cache, but owns an ISOLATED SQLConf and temp-view namespace, so an
override set on the child can never be observed by any other query no
matter how submission interleaves.  Frames returned from a child are
plain DataFrames over the shared context — the driver collects them
exactly like parent-session frames.

Child sessions inherit their starting conf from the SparkContext conf
(builder-time ``.config()`` values), NOT from runtime ``conf.set``
calls on the parent — which is the behavior the engine wants: every
conf a query needs is set inside the query path (CLAUDE.md rule), so a
child starts from the same baseline the driver's vanilla session does.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import SparkSession


def conf_scoped_session(
    spark: SparkSession, confs: dict[str, str]
) -> SparkSession:
    """A fresh child session with ``confs`` applied — the conf-override
    scope for one query body.  Nothing to restore: the overrides die
    with the child, and the shared session's SQLConf is never touched."""
    child = spark.newSession()
    for k, v in confs.items():
        child.conf.set(k, v)
    return child


# One long-lived streaming child per user-facing session: every
# streaming query in a session shares it (memoized) so a two-stream
# join builds both legs on ONE session and the state-partition conf
# run_to_completion sets lands on the session that actually starts the
# stream.  WeakKey so a dropped parent session releases its child.
_STREAM_SESSIONS: "WeakKeyDictionary[SparkSession, SparkSession]" = (
    WeakKeyDictionary()
)


def stream_session(spark: SparkSession) -> SparkSession:
    """The memoized streaming child session for ``spark``.

    Idempotent: passing an existing child returns it unchanged, so
    query bodies can rebind ``spark = stream_session(spark)`` before
    building sources and setting stream confs without nesting children.
    """
    for child in _STREAM_SESSIONS.values():
        if child is spark:
            return spark
    child = _STREAM_SESSIONS.get(spark)
    if child is None:
        child = spark.newSession()
        # Checkpoint files through Hadoop's FileSystem API rather than
        # FileContext: without native libhadoop, the local FileContext
        # starts a `readlink` subprocess for every checkpoint file it
        # renames or stats.
        child.conf.set(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        _STREAM_SESSIONS[spark] = child
    return child
