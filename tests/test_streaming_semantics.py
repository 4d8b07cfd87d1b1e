"""Streaming semantics the oracle can't see: watermark late-data drops
and incremental (multi-batch) processing equivalence."""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, dest_dir: str, name: str, rows, mtime: float):
    """Write one parquet file with a controlled name+mtime so the file
    stream source (which orders by modification time) processes batches
    in the intended order."""
    import glob
    import shutil

    tmp = tempfile.mkdtemp(prefix="sg-batch-")
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(dest_dir, exist_ok=True)
    dst = os.path.join(dest_dir, name)
    shutil.copy(src, dst)
    os.utime(dst, (mtime, mtime))


@pytest.fixture()
def two_batch_dir(spark):
    """Batch 1: events up to 12:00.  Batch 2: one on-time event (12:30)
    plus one LATE event (09:00) that falls behind the 1h watermark."""
    import time

    d = os.path.join(tempfile.mkdtemp(prefix="sg-late-"), "events")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    now = time.time()
    _write_batch(
        spark, d, "b1.parquet",
        [(1, t(10, 0), 1, 1.0), (2, t(11, 0), 1, 1.0), (3, t(12, 0), 1, 1.0)],
        now - 200,
    )
    _write_batch(
        spark, d, "b2.parquet",
        [(4, t(12, 30), 1, 1.0), (5, t(9, 0), 1, 100.0)],
        now - 100,
    )
    return d


def test_watermark_drops_late_rows(spark):
    """Two sequential runs of the same query share a checkpoint, so the
    watermark persists: run 1 sees events up to 12:00 (watermark advances
    to 11:00); run 2 delivers a 09:00 straggler, which the watermark must
    drop -- the 09:00 window may never appear in append output."""
    import time

    d = os.path.join(tempfile.mkdtemp(prefix="sg-late-"), "events")
    ckpt = tempfile.mkdtemp(prefix="sg-ckpt-")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    sink = tempfile.mkdtemp(prefix="sg-sink-")

    def run_once(run: int):
        # file sink supports checkpoint recovery (memory sink does not);
        # the checkpoint -- and with it the watermark -- is shared.
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, value double"
            )
            .parquet(d)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .select(F.col("w.start").alias("ws"), "n", "total")
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).collect()

    now = time.time()
    _write_batch(
        spark, d, "b1.parquet",
        [(1, t(10, 0), 1, 1.0), (2, t(11, 0), 1, 1.0), (3, t(12, 0), 1, 1.0)],
        now - 200,
    )
    out1 = run_once(1)
    _write_batch(
        spark, d, "b2.parquet",
        [(4, t(12, 30), 1, 1.0), (5, t(9, 0), 1, 100.0)],
        now - 100,
    )
    out2 = run_once(2)
    rows = {r["ws"].hour: (r["n"], r["total"]) for r in out1 + out2}
    # the 10:00 window closed with exactly its one on-time event, and the
    # late 09:00 event (value 100) must NOT have resurrected a 09:00 window
    assert rows.get(10) == (1, 1.0)
    assert 9 not in rows


def test_incremental_equals_batch(spark, two_batch_dir):
    """Complete-mode incremental aggregation over N micro-batches equals
    the one-shot batch aggregate of all data (late rows included: no
    watermark here, so nothing may be dropped)."""
    agg = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(two_batch_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    name = f"inc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sg-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["user_id"], r["n"], r["total"]) for r in spark.table(name).collect()}
    exp = {
        (r["user_id"], r["n"], r["total"])
        for r in spark.read.parquet(two_batch_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == exp


def test_foreachbatch_upsert_runs_incrementally(spark, sf_dir):
    """The foreachBatch MERGE query must actually merge across multiple
    micro-batches (>= 2 snapshot versions), not collapse the whole source
    into one batch -- and its final snapshot must equal the one-shot
    batch aggregate."""
    import os

    from eecs485_p4_mapreduce_spark.streaming import streaming_upsert_foreachbatch
    from eecs485_p4_mapreduce_spark.sources import load_table
    from eecs485_p4_mapreduce_spark.functions.numeric import dsum

    out = streaming_upsert_foreachbatch(spark, sf_dir)
    got = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in out.collect()
    }
    versions = sorted(
        d for d in os.listdir(streaming_upsert_foreachbatch.last_target_base)
        if d.startswith("v")
    )
    assert len(versions) >= 2, versions
    exp = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == exp


def test_tws_user_stats_matches_applyinpandas_twin(spark, sf_dir):
    """streaming_tws_user_stats and streaming_stateful_user_stats share
    one declared contract (and one oracle); their results must be
    row-identical in any environment, whichever state API actually ran."""
    from eecs485_p4_mapreduce_spark.streaming import (
        streaming_stateful_user_stats,
        streaming_tws_user_stats,
    )

    tws = {tuple(r) for r in streaming_tws_user_stats(spark, sf_dir).collect()}
    aip = {tuple(r) for r in streaming_stateful_user_stats(spark, sf_dir).collect()}
    assert tws == aip and len(tws) > 0


def test_tws_branch_runs_where_protobuf_exists(spark, sf_dir):
    """When google.protobuf is importable (any standard Spark 4 cluster
    distribution), the transformWithStateInPandas branch itself must run
    and satisfy the shared contract.  Skipped in containers without
    protobuf -- the fallback twin is covered by the test above."""
    import pytest

    pytest.importorskip("google.protobuf")
    from eecs485_p4_mapreduce_spark.streaming import streaming_tws_user_stats

    rows = streaming_tws_user_stats(spark, sf_dir).collect()
    assert len(rows) > 0


def test_upsert_foreachbatch_idempotent_merge_on_replay(spark, sf_dir, tmp_path):
    """Failure injection for the foreachBatch MERGE: the sink crashes
    AFTER writing its snapshot but BEFORE the checkpoint commits — the
    worst-case window, where the restarted stream REPLAYS that batch.
    An idempotent merge (source derived from batch_id, overwrite sink —
    make_merge_upsert's contract) must converge to the exact batch
    answer; a merge reading mutable 'latest snapshot' state would count
    the replayed batch twice."""
    import os

    from eecs485_p4_mapreduce_spark.functions.numeric import dsum
    from eecs485_p4_mapreduce_spark.sources import load_table
    from eecs485_p4_mapreduce_spark.streaming import make_merge_upsert

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.repartitionByRange(4, "ts").write.parquet(src)
    schema = spark.read.parquet(src).schema
    tgt_base = str(tmp_path / "tgt")
    os.makedirs(tgt_base)
    ckpt = str(tmp_path / "ckpt")
    state: dict[str, str] = {}
    merge = make_merge_upsert(tgt_base, state)

    class Boom(RuntimeError):
        pass

    crashed = {"done": False}

    def crashy(batch_df, batch_id):
        merge(batch_df, batch_id)  # snapshot v{batch_id} IS written...
        if batch_id == 2 and not crashed["done"]:
            crashed["done"] = True
            raise Boom("injected crash after sink write, before commit")

    def run(fn):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import pytest as _pytest

    with _pytest.raises(Exception):  # the injected Boom fails the query
        run(crashy)
    assert crashed["done"] and os.path.exists(f"{tgt_base}/v2/_SUCCESS")
    run(crashy)  # restart from the same checkpoint: batch 2 REPLAYS
    final = spark.read.parquet(state["dir"]).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "last_ts",
    )
    got = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in final.collect()
    }
    exp = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == exp  # replayed batch merged exactly once


def test_streaming_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart recovery: a stateful streaming aggregation that
    stops after draining half its input files and restarts from the same
    checkpoint must (a) restore its state, (b) process ONLY the new
    files (file-source exactly-once -- the processed-file log lives in
    the checkpoint), and (c) end equal to the batch answer."""
    import shutil
    from pathlib import Path

    from eecs485_p4_mapreduce_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    total = ev.count()
    stage = tmp_path / "stage"
    ev.repartition(4).write.parquet(str(stage))
    parts = sorted(p for p in Path(stage).iterdir() if p.suffix == ".parquet")
    assert len(parts) == 4
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = spark.read.parquet(str(stage)).schema
    ckpt = str(tmp_path / "ckpt")

    def run(name: str):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir))
        )
        q = (
            s.groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_in = sum(int(p["numInputRows"]) for p in q.recentProgress)
        return spark.table(name), n_in

    for p in parts[:2]:
        shutil.copy(p, in_dir / p.name)
    _, rows1 = run("ckpt_run1")
    assert 0 < rows1 < total  # the "crash" happened mid-input

    for p in parts[2:]:
        shutil.copy(p, in_dir / p.name)
    t2, rows2 = run("ckpt_run2")
    # exactly-once: every row processed once across both incarnations
    assert rows1 + rows2 == total
    assert rows2 < total  # restart did NOT rescan the first two files
    batch = {r["event_type"]: r["count"]
             for r in ev.groupBy("event_type").count().collect()}
    got = {r["event_type"]: r["count"] for r in t2.collect()}
    assert got == batch


def test_upsert_foreachbatch_restart_across_conf_change(spark, sf_dir, tmp_path):
    """Operational restart case the replay test doesn't cover: the
    stream drains part of its input, stops cleanly, ops changes
    spark.sql.shuffle.partitions (the conf every batch's per-user
    aggregate shuffles with), and the stream RESTARTS from the same
    checkpoint on a session carrying the new conf.  The file-source
    offset log must resume exactly after the already-processed files,
    batch ids must continue (so the merge keeps reading v{id-1}), and
    the final snapshot must equal the batch answer — proving the sink
    contract is partition-count-independent across a restart."""
    import os
    import shutil
    from pathlib import Path

    from eecs485_p4_mapreduce_spark.functions.numeric import dsum
    from eecs485_p4_mapreduce_spark.sources import load_table
    from eecs485_p4_mapreduce_spark.streaming import make_merge_upsert

    ev = load_table(spark, sf_dir, "events")
    stage = tmp_path / "stage"
    ev.repartitionByRange(4, "ts").write.parquet(str(stage))
    parts = sorted(p for p in Path(stage).iterdir() if p.suffix == ".parquet")
    assert len(parts) == 4
    schema = spark.read.parquet(str(stage)).schema

    src = tmp_path / "src"
    os.makedirs(src)
    tgt_base = str(tmp_path / "tgt")
    os.makedirs(tgt_base)
    ckpt = str(tmp_path / "ckpt")
    state: dict[str, str] = {}
    merge = make_merge_upsert(tgt_base, state)

    def run(sess):
        q = (
            sess.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: two input files on a 4-partition session
    for p in parts[:2]:
        shutil.copy(p, src / p.name)
    s1 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "4")
    run(s1)
    assert os.path.exists(f"{tgt_base}/v1/_SUCCESS")  # two batches ran
    n_after_phase1 = spark.read.parquet(state["dir"]).count()

    # phase 2: remaining files land; restart from the SAME checkpoint on
    # a session with a DIFFERENT shuffle-partition conf
    for p in parts[2:]:
        shutil.copy(p, src / p.name)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "13")
    run(s2)

    # batch ids continued: exactly 4 snapshots, none skipped or replayed
    vs = sorted(
        int(d[1:]) for d in os.listdir(tgt_base) if d.startswith("v")
    )
    assert vs == [0, 1, 2, 3], vs
    assert state["dir"].endswith("v3")

    final = spark.read.parquet(state["dir"]).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "last_ts",
    )
    got = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in final.collect()
    }
    exp = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == exp
    assert len(got) >= n_after_phase1 > 0


def test_stateful_restart_across_changelog_checkpointing_flip(spark, sf_dir, tmp_path):
    """Round-9 VERDICT item 5 — the remaining state-store operational
    case: a STATEFUL aggregation on the RocksDB provider restarts from
    the same checkpoint with
    ``rocksdb.changelogCheckpointing.enabled`` FLIPPED (snapshot ->
    changelog -> back), and the final complete-mode snapshot equals the
    batch answer.  Structural proof the flip took effect: the state
    directory holds .zip snapshot files after the snapshot-mode run and
    .changelog files after the changelog-mode run."""
    import glob
    import shutil
    from pathlib import Path

    from eecs485_p4_mapreduce_spark.functions.numeric import dsum
    from eecs485_p4_mapreduce_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    stage = tmp_path / "stage"
    ev.repartitionByRange(4, "ts").write.parquet(str(stage))
    parts = sorted(p for p in Path(stage).iterdir() if p.suffix == ".parquet")
    assert len(parts) == 4
    schema = spark.read.parquet(str(stage)).schema

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    flip_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )

    def run(name: str, changelog: bool):
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", "4")
        s.conf.set("spark.sql.streaming.stateStore.providerClass", rocks)
        s.conf.set(flip_key, "true" if changelog else "false")
        agg = (
            s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
                F.max("ts").alias("last_ts"),
            )
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return s.table(name)

    # phase 1: snapshot mode over the first file
    shutil.copy(parts[0], src / parts[0].name)
    t1 = run("clflip_p1", changelog=False)
    n1 = t1.agg(F.sum("n_events")).first()[0]
    assert 0 < n1 < ev.count()  # only file 1 processed
    assert glob.glob(f"{ckpt}/state/0/*/*.zip"), "no snapshot files written"

    # phase 2: restart the SAME checkpoint in changelog mode
    shutil.copy(parts[1], src / parts[1].name)
    run("clflip_p2", changelog=True)
    assert glob.glob(
        f"{ckpt}/state/0/*/*.changelog"
    ), "no changelog files written after the flip"

    # phase 3: flip BACK to snapshot mode for the remaining files
    for p in parts[2:]:
        shutil.copy(p, src / p.name)
    t3 = run("clflip_p3", changelog=False)

    got = {
        (r["user_id"], r["n_events"],
         float(r["total_dec"]), r["last_ts"])
        for r in t3.collect()
    }
    exp = {
        (r["user_id"], r["n_events"], r["total_value"], r["last_ts"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == exp and len(got) > 0


def test_dropduplicates_within_watermark_state_expiry(spark):
    """dropDuplicatesWithinWatermark — the BOUNDED-state dedup (state
    per key expires once the watermark passes event_time + delay),
    i.e. the production alternative to streaming_dedup_keys' exact
    forever-dedup.  Two sequential availableNow runs share a
    checkpoint: run 1 emits first occurrences of u1 (10:00) and u2
    (12:30) and advances the watermark to 11:30, which EVICTS u1's
    state (10:00 + 1h < 11:30) but keeps u2's (12:30 + 1h).  Run 2
    then re-emits u1 (12:00 — state gone, duplicate beyond the
    declared window) and drops u2's 12:45 duplicate (state alive)."""
    import time

    d = os.path.join(tempfile.mkdtemp(prefix="sg-ddww-"), "events")
    ckpt = tempfile.mkdtemp(prefix="sg-ckpt-")
    sink = tempfile.mkdtemp(prefix="sg-sink-")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, value double"
            )
            .parquet(d)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id"])
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).collect()

    now = time.time()
    _write_batch(
        spark, d, "b1.parquet",
        [(1, t(10, 0), 1, 1.0), (2, t(12, 30), 2, 1.0)],
        now - 200,
    )
    out1 = run_once()
    assert {r["event_id"] for r in out1} == {1, 2}
    _write_batch(
        spark, d, "b2.parquet",
        [(3, t(12, 0), 1, 1.0), (4, t(12, 45), 2, 1.0)],
        now - 100,
    )
    out2 = run_once()
    ids = sorted(r["event_id"] for r in out2)
    # u1 re-emitted after expiry (id 3); u2's in-window duplicate dropped
    assert ids == [1, 2, 3], ids


def test_idle_timeout_sessions_timer_and_restart(spark):
    """Event-time-timer sessionization semantics + restart
    exactly-once: run 1 closes an intra-batch gap session ('gap') and
    two idle sessions via the watermark-advance timer batch
    ('timeout'), while a session still inside its idle window stays
    UNEMITTED in state; run 2 (same checkpoint) restores that state,
    EXTENDS the open session across the restart, and re-emits
    nothing — append output is exactly-once-at-close."""
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from eecs485_p4_mapreduce_spark import streaming as S

    d = os.path.join(tempfile.mkdtemp(prefix="sg-idle-"), "events")
    ckpt = tempfile.mkdtemp(prefix="sg-ckpt-")
    sink = tempfile.mkdtemp(prefix="sg-sink-")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint,"
                " value double"
            )
            .parquet(d)
            .withWatermark("ts", "0 seconds")
            .withColumn("shard", F.pmod(F.col("user_id"), F.lit(64)))
            .select("shard", "user_id", "ts")
        )
        q = (
            stream.groupBy("shard")
            .applyInPandasWithState(
                S._idle_update,
                outputStructType=S._IDLE_OUT,
                stateStructType=S._IDLE_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (
                (r["user_id"], r["session_start"], r["session_end"],
                 r["n_events"], r["closed_by"])
                for r in spark.read.parquet(sink).collect()
            )
        )

    now = time.time()
    _write_batch(
        spark, d, "b1.parquet",
        [
            (1, t(10, 0), 1, 1.0), (2, t(10, 10), 1, 1.0),  # idle -> timeout
            (3, t(13, 0), 2, 1.0),                          # still open
            (4, t(9, 0), 4, 1.0), (5, t(10, 0), 4, 1.0),    # intra-batch gap
        ],
        now - 200,
    )
    out1 = run_once()
    assert out1 == [
        (1, t(10, 0), t(10, 10), 2, "timeout"),
        (4, t(9, 0), t(9, 0), 1, "gap"),
        (4, t(10, 0), t(10, 0), 1, "timeout"),
    ], out1

    _write_batch(
        spark, d, "b2.parquet",
        [
            (6, t(13, 10), 2, 1.0),  # extends u2's restored open session
            (7, t(13, 30), 1, 1.0),  # fresh open session for u1
        ],
        now - 100,
    )
    out2 = run_once()
    # nothing re-emitted, nothing new closed: u2's extended session
    # (13:40 expiry) and u1's fresh one are both inside the 13:30
    # watermark; the run-1 rows appear exactly once
    assert out2 == out1, out2


def test_idle_timeout_exact_watermark_boundary_stays_open(spark, tmp_path):
    """Exact-boundary pin for the strict timer rule (round-12 ADVICE):
    a session whose expiry lands EXACTLY on the final watermark
    millisecond stays OPEN in both the stream and the oracle, while a
    session one millisecond below closes as 'timeout'.  Spark fires an
    event-time timer only when the watermark STRICTLY exceeds the
    registered expiry, so the oracle and `_idle_close_expired` both use
    the strict compare; with the old inclusive (<=) oracle this corpus
    mismatches (the oracle would emit u1)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    t = dt.datetime
    rows = [
        # u1: expiry 10:30:00.000 == head watermark -> must stay OPEN
        (1, t(2024, 1, 1, 10, 0, 0, 0), 1),
        # u2: expiry 10:29:59.999 < watermark -> closes as 'timeout'
        (2, t(2024, 1, 1, 9, 59, 59, 999000), 2),
        # u9: head event defines the watermark (whole millisecond)
        (3, t(2024, 1, 1, 10, 30, 0, 0), 9),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")

    spec = REGISTRY["streaming_tws_idle_timeout_sessions"]
    got = sorted(
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["closed_by"],
        )
        for r in spec.fn(spark, str(tmp_path)).collect()
    )
    assert got == [
        (
            2,
            t(2024, 1, 1, 9, 59, 59, 999000),
            t(2024, 1, 1, 9, 59, 59, 999000),
            1,
            "timeout",
        )
    ], got

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    oracle = sorted(
        (int(u), s, e, int(n), c)
        for u, s, e, n, c in con.execute(spec.oracle).fetchall()
    )
    assert oracle == got, oracle


def test_band_index_follows_in_place_corpus_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The streaming MinHash band index is keyed on the documents mtime:
    a corpus rewritten in place during one application gets an index
    built from the NEW corpus, matching the signatures the stream
    probes with, instead of the old corpus's bands."""
    import shutil

    import duckdb

    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.streaming import _band_index_table

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path / "wh"))
    src = os.path.join(sf_dir, "documents.parquet")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(src, corpus / "documents.parquet")
    n_full = _band_index_table(spark, str(corpus)).count()

    half = tmp_path / "half.parquet"
    duckdb.connect().execute(
        f"COPY (SELECT * FROM '{src}' WHERE doc_id % 2 = 0) TO '{half}'"
        " (FORMAT PARQUET)"
    )
    os.replace(half, corpus / "documents.parquet")
    n_half = _band_index_table(spark, str(corpus)).count()
    assert 0 < n_half < n_full


def _jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts.  The status tracker follows
    the listener bus, which handles jobs in the order they start: once a
    marker job started after ``fn`` shows, so does every job ``fn`` ran."""
    import time

    sc = spark.sparkContext
    group, marker = f"sg-jobs-{uuid.uuid4().hex}", f"sg-marker-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "counted")
        fn()
        sc.setJobGroup(marker, "marker")
        spark.range(1).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker)
    return list(tracker.getJobIdsForGroup(group))


def test_band_index_is_reused_and_rebuilt_when_deleted(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The session catalog is the band index's registry: a second call in
    the same application reads the stored table and runs no job.
    Deleting its location, as a cold reset that empties the warehouse
    does, makes the next call rebuild it with the same rows."""
    import shutil

    from eecs485_p4_mapreduce_spark.functions import modelstore
    from eecs485_p4_mapreduce_spark.streaming import _band_index_table

    monkeypatch.setattr(modelstore, "warehouse_path", lambda s: str(tmp_path / "wh"))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), corpus)
    first = sorted(_band_index_table(spark, str(corpus)).collect())
    assert first

    assert _jobs_run_by(spark, lambda: _band_index_table(spark, str(corpus))) == []

    loc = {os.path.dirname(f) for f in _band_index_table(spark, str(corpus)).inputFiles()}
    assert len(loc) == 1
    shutil.rmtree(loc.pop().removeprefix("file:"))
    built = []
    assert _jobs_run_by(
        spark, lambda: built.append(_band_index_table(spark, str(corpus)))
    )
    assert sorted(built[0].collect()) == first


def test_band_index_probe_scans_buckets_without_exchange(spark, sf_dir):
    """With broadcast joins off, the streaming MinHash probe joins the
    band index as stored: its side of the sort-merge join is a bucketed
    scan (``Bucketed: true``) with no exchange above it, so no
    micro-batch re-shuffles the corpus."""
    import contextlib
    import io
    import re

    from eecs485_p4_mapreduce_spark import streaming as S
    from eecs485_p4_mapreduce_spark.functions.confscope import stream_session

    class Captured(Exception):
        pass

    def capture(stream_df, **_kw):
        raise Captured(stream_df)

    child = stream_session(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = child.conf.get(key)
    child.conf.set(key, "-1")
    orig = S.run_to_completion
    S.run_to_completion = capture
    try:
        with pytest.raises(Captured) as got:
            S.streaming_minhash_incremental(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            got.value.args[0].explain()
    finally:
        S.run_to_completion = orig
        child.conf.set(key, prev)

    lines = buf.getvalue().splitlines()

    def col(line: str) -> int:
        return re.match(r"[ :+\-]*", line).end()

    scan = next(i for i, ln in enumerate(lines) if "sg_band_index" in ln)
    assert "FileScan parquet" in lines[scan] and "Bucketed: true" in lines[scan]
    path, c = [], col(lines[scan])
    for ln in reversed(lines[:scan]):
        if col(ln) < c:
            if "SortMergeJoin" in ln:
                break
            path.append(ln)
            c = col(ln)
    else:
        pytest.fail("the band index is not a sort-merge join input")
    assert not any("Exchange" in ln for ln in path), path


def test_user_stats_fold_is_split_invariant():
    """The accumulator both stateful user-stats spellings share: folding
    the events in several batches (empty ones included, state carried
    between calls) equals one groupby, and the micro-unit sums stay
    integers past float64's exact range."""
    import numpy as np
    import pandas as pd

    from eecs485_p4_mapreduce_spark.streaming import _fold_user_stats

    rng = np.random.default_rng(7)
    n = 3000
    ev = pd.DataFrame(
        {
            "user_id": rng.integers(0, 7, n).astype("int64"),
            # ~2.5e13 micro-units a row: a user's total exceeds 2**53
            "value": np.round(rng.uniform(2.4e7, 2.5e7, n), 6),
        }
    )
    empty = ev.iloc[:0]
    state, out = None, None
    for batches in ([empty], [ev.iloc[:700], empty], [], [ev.iloc[700:1900], ev.iloc[1900:]]):
        state, out = _fold_user_stats(state, iter(batches))

    micro = np.rint(ev["value"].to_numpy() * 1e6).astype("int64")
    g = ev.assign(sm=micro).groupby("user_id")
    users = ev["user_id"].to_numpy()
    exact = {int(u): sum(int(m) for m in micro[users == u]) for u in set(users)}
    assert max(exact.values()) > 2**53
    uids, ns, mxs, sums = state
    assert uids == sorted(exact) and sums == [exact[u] for u in uids]
    assert all(type(v) is int for v in sums)
    assert ns == g.size().tolist() and mxs == g["value"].max().tolist()

    _, whole = _fold_user_stats(None, [ev])
    pd.testing.assert_frame_equal(out, whole)
    assert out["n_events"].dtype == "int64" and out["user_id"].dtype == "int64"


def test_stream_run_leaves_no_checkpoint_or_view(spark, sf_dir, tmp_path, monkeypatch):
    """``run_to_completion`` removes the checkpoint it created and drops
    its memory-sink view once the returned frame has resolved it; the
    frame keeps its rows."""
    from eecs485_p4_mapreduce_spark.functions.confscope import stream_session
    from eecs485_p4_mapreduce_spark.sources import load_table
    from eecs485_p4_mapreduce_spark.streaming import streaming_dedup_keys

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = stream_session(spark)

    def sg_tables():
        return {t.name for t in child.catalog.listTables() if t.name.startswith("sg_")}

    before = sg_tables()
    got = {tuple(r) for r in streaming_dedup_keys(spark, sf_dir).collect()}
    assert not [p for p in os.listdir(tmp_path) if p.startswith("spark-graft-ckpt-")]
    assert sg_tables() == before
    exp = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == exp and got


def test_python_datasource_queries_leave_no_dir_or_view(spark, sf_dir, tmp_path, monkeypatch):
    """The Python data-source stream removes its checkpoint and drops its
    memory-sink view, and the Python data-source sink removes the files
    it wrote and read back, before either returns; both frames keep
    their rows."""
    from eecs485_p4_mapreduce_spark.operators.sourcesink import (
        sink_python_datasource,
        source_python_datasource_stream,
    )
    from eecs485_p4_mapreduce_spark.sources import load_table

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("sg_pyds_")}

    before = views()
    stream = source_python_datasource_stream(spark, sf_dir)
    sink = sink_python_datasource(spark, sf_dir)
    assert not [p for p in os.listdir(tmp_path) if p.startswith("spark-graft-")]
    assert views() == before
    assert sum(r["n"] for r in stream.collect()) == 100_000
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    assert sum(r["n"] for r in sink.collect()) == orders.count() > 0
