"""Distributed global ranks / running sums without a one-task window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels the
whole input through a single task — the classic 100 TB dead end (Spark
itself logs "No Partition Defined for Window operation").  The scale-safe
plan, factored here from ``ids_contiguous_assign``
(operators/relational6.py), is:

1. ``repartitionByRange`` on the sort key — each partition holds a
   contiguous key range — then ``sortWithinPartitions`` on the same
   key and stamp ``monotonically_increasing_id()``: the id packs
   (partition id << 33) | in-partition row counter, so the LOCAL rank
   is pure arithmetic on the stamped id — no per-partition window, and
   therefore no second full-data ``hashpartitioning(_pid)`` exchange
   (the window spelling re-shuffled everything a second time);
2. aggregate one count/min-id/sum row per partition (P rows, P =
   partition count), prefix-sum that P-row frame, and broadcast the
   offsets back.

``global offset + local rank`` equals the global rank for ANY disjoint
ordered ranges, so the result is independent of where
repartitionByRange's *sampled* boundaries happen to fall.  The ranged
frame is checkpointed because both branches (per-partition stats and
the numbering) must observe the same physical partitioning, and the
checkpoint stops projection collapse from replaying the exchange.

Checkpoint durability: the ranged frame uses reliable ``checkpoint()``
— an executor loss mid-query recovers from the checkpoint store.  It is
the package's one reliable pin: every other pin is a
``localCheckpoint`` through ``modelstore.pin``, whatever checkpoint
dir the SparkContext has.  When the session has no checkpoint
directory configured (the driver's vanilla session), the recipe
provisions one itself per the "any conf a query needs is set inside
the query path" rule: ``$SPARK_GRAFT_CHECKPOINT_DIR`` if set, else
``<warehouse>/_checkpoints/<appId>`` (removed at interpreter exit — the
blocks only need to outlive the application).  On a cluster, point the
env var (or ``sc.setCheckpointDir``) at HDFS/S3 and durability extends
across executor loss with no code change.  Measured locally the
reliable write costs nothing here (0.4 s vs 0.4 s on the sf0.1 ranged
events frame), but it costs time on the loops and multi-consumer
frames, so those pin locally (sf0.1, ``local[4]``, median of 6 runs, local ->
reliable: embedding_coreset_kcenter 1.9 -> 2.9 s, graph_hits_bipartite
8.3 -> 9.6 s).

The only global window left is the P-row prefix sum — P = partition
count, cluster-sized (not data-sized) at any scale.

Packed-id capacity: ``monotonically_increasing_id`` reserves 33 bits
for the in-partition counter, so the arithmetic is exact up to 2^33
(~8.6e9) rows per range partition.  With partitions tracking cluster
cores a partition holds ~data/cores rows — hundreds of millions at
100 TB on a 1000-executor cluster — leaving >30x headroom; a pathological
single-partition configuration would hit Spark's own id contract long
before this recipe's.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def default_rank_partitions(df: DataFrame) -> int:
    """Partition count for the ranged frame: one per available core
    (``defaultParallelism`` — executors × cores on a cluster), floored
    at 2 so the recipe is still exercised on a 1-core session.  A fixed
    constant would cap the rank stage's parallelism on a 1000-executor
    cluster; tracking defaultParallelism scales it with the cluster.
    Rows per partition stay ~data/cores, the same balance every other
    shuffle in the job runs at."""
    return max(int(df.sparkSession.sparkContext.defaultParallelism), 2)


def _provision_checkpoint_dir(spark) -> None:
    """Set a reliable checkpoint dir on a session that has none (the
    driver's vanilla session): env override, else an application-scoped
    dir under the warehouse, cleaned up at interpreter exit."""
    import atexit
    import os
    import shutil

    from eecs485_p4_mapreduce_spark.functions.modelstore import warehouse_path

    root = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if root is None:
        root = os.path.join(
            warehouse_path(spark),
            "_checkpoints",
            spark.sparkContext.applicationId,
        )
        # only reap dirs WE created; an operator-managed env-var dir is
        # the operator's to manage
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    spark.sparkContext.setCheckpointDir(root)


def _pin_partitioning(df: DataFrame) -> DataFrame:
    """Materialize ``df`` so both consumers see one physical
    partitioning (see module docstring for the durability story)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        _provision_checkpoint_dir(df.sparkSession)
    return df.checkpoint(eager=True)


def _attach_offsets(ranged: DataFrame, offsets: DataFrame, pcols: list) -> DataFrame:
    """Broadcast-join the P-row offsets frame back onto the ranged frame,
    NULL-SAFE on the group columns: PARTITION BY treats NULL as a group,
    so the re-attach must too — a plain name-join (NULL != NULL) would
    silently drop every NULL-group row.  The offsets side's keys are
    renamed before the join so the self-join condition is unambiguous
    (offsets derives from ranged)."""
    if not pcols:
        return ranged.join(F.broadcast(offsets), "_pid")
    renamed = offsets.withColumnRenamed("_pid", "_sgoff_pid")
    for c in pcols:
        renamed = renamed.withColumnRenamed(c, f"_sgoff_{c}")
    cond = ranged["_pid"] == F.col("_sgoff_pid")
    for c in pcols:
        cond = cond & ranged[c].eqNullSafe(F.col(f"_sgoff_{c}"))
    return ranged.join(F.broadcast(renamed), cond).drop(
        "_sgoff_pid", *[f"_sgoff_{c}" for c in pcols]
    )


def with_global_rank(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    *,
    sum_col: str | None = None,
    partitions: int | None = None,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Return ``df`` + ``_rk`` (1-based global rank over ``order_cols``)
    and ``_n`` (total row count), computed with the range-partition /
    partition-offset recipe above.  With ``sum_col`` also adds ``_cum``
    (inclusive running sum of that column in rank order) and ``_tot``
    (its grand total) — exact for decimal inputs, since every addition
    is a decimal aggregate.

    ``order_cols`` may include ``F.col(...).desc()`` sort orders; they
    are applied identically to the range partitioner and the local
    window, which is what makes offset+local == global.

    ``partition_cols`` generalizes to GROUPED global ranks (``rank()
    OVER (PARTITION BY g ORDER BY ...)``) that stay scale-safe when the
    groups are few and huge: ranks restart per group, ``_n``/``_tot``
    become per-group totals, and the range partitioner spreads each
    group across contiguous ranges instead of one task per group.  The
    offsets frame grows to partitions x n_groups rows — still
    cluster-sized, but keep ``partition_cols`` low-cardinality (for
    high-cardinality groups an ordinary partitioned window is already
    parallel and should be used instead).

    ``partitions`` defaults to :func:`default_rank_partitions` (one per
    core, cluster-sized); pass an explicit count only when the caller
    knows the input is small."""
    if partitions is None:
        partitions = default_rank_partitions(df)
    pcols = list(partition_cols)
    # range-partition, sort in place, stamp the packed (pid, counter) id.
    # The id projection sits ABOVE the sort and is nondeterministic, so
    # Catalyst never reorders it below; rows of one (partition, group)
    # slice are contiguous because the range key leads with the groups.
    ranged = _pin_partitioning(
        df.repartitionByRange(partitions, *pcols, *order_cols)
        .sortWithinPartitions(*pcols, *order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned("_mid", 33))
    )
    aggs = [F.count("*").alias("_c"), F.min("_mid").alias("_minmid")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("_s"))
    per_part = ranged.groupBy("_pid", *pcols).agg(*aggs)
    w_base = (
        Window.partitionBy(*pcols).orderBy("_pid") if pcols
        else Window.orderBy("_pid")
    )
    w_prev = w_base.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col("_pid"),
        *[F.col(c) for c in pcols],
        F.col("_minmid"),
        F.coalesce(F.sum("_c").over(w_prev), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).alias("_n"),
    ]
    if sum_col is not None:
        off_cols += [
            F.coalesce(F.sum("_s").over(w_prev), F.lit(0)).alias("_soff"),
            F.sum("_s").over(w_all).alias("_tot"),
        ]
    offsets = per_part.select(*off_cols)

    out = _attach_offsets(ranged, offsets, pcols)
    # local rank = packed counter distance from the slice's first row
    out = out.withColumn("_local_rk", F.col("_mid") - F.col("_minmid") + 1)
    if sum_col is not None:
        # the running sum is not arithmetic-derivable; this one window
        # keeps the _pid-scoped shape (its exchange moves each ranged
        # partition as a block, never a data-sized single task)
        w_local = Window.partitionBy("_pid", *pcols).orderBy("_local_rk")
        out = out.withColumn(
            "_local_cum",
            F.sum(sum_col).over(
                w_local.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    out = out.withColumn(
        "_rk", (F.col("_off") + F.col("_local_rk")).cast("bigint")
    )
    if sum_col is not None:
        out = out.withColumn("_cum", F.col("_soff") + F.col("_local_cum"))
    return out.drop(
        "_pid", "_mid", "_minmid", "_off", "_local_rk", "_soff", "_local_cum"
    )


def with_running_max(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    val_col: str,
    *,
    partition_cols: Sequence[str] = (),
    partitions: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Return ``df`` + ``_runmax``: the running maximum of ``val_col``
    over ``order_cols`` within each ``partition_cols`` group — the
    high-water-mark shape — WITHOUT a per-group single-task window.
    With ``inclusive=False`` the frame excludes the current row (the
    strict-predecessor max, e.g. a Pareto/skyline dominance test):
    ``_runmax`` is then NULL for each group's first row.

    REQUIREMENT: ``order_cols`` must form a unique total order within
    each group (the repo's ranking convention — append an id tie-break
    like ``event_id``).  Rows TIED on the range key can be split across
    range partitions, where the positional window would see an
    arbitrary subset of their peers: results for tied rows would be
    window-equivalent but not the value-based strict-predecessor
    semantics skyline-style callers assume.  Every current call site
    orders by a unique key (distinct prices + id, unique event_id).

    ``max`` is associative, so the partition-offset recipe applies
    verbatim with prefix-max in place of prefix-sum: range-partition on
    (partition_cols, order_cols) so each group's rows land in contiguous
    ranges, take the running max within each (partition, group) slice,
    and combine with the max over the group's EARLIER partitions via a
    broadcast P-row offsets frame.  A low-cardinality ``partition_cols``
    (e.g. ~5 event types) would otherwise funnel corpus/5 rows through
    one window task."""
    if partitions is None:
        partitions = default_rank_partitions(df)
    pcols = list(partition_cols)
    ranged = _pin_partitioning(
        df.repartitionByRange(partitions, *pcols, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    per_part = ranged.groupBy("_pid", *pcols).agg(F.max(val_col).alias("_pmax"))
    w_prev = (
        Window.partitionBy(*pcols).orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        if pcols
        else Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_part.select(
        "_pid", *pcols, F.max("_pmax").over(w_prev).alias("_prevmax")
    )
    w_local = (
        Window.partitionBy("_pid", *pcols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    out = _attach_offsets(
        ranged.withColumn("_localmax", F.max(val_col).over(w_local)),
        offsets,
        pcols,
    )
    # greatest() skips NULLs, so the first partition of each group
    # (NULL _prevmax) falls back to its local running max alone — and in
    # the exclusive form a group's very first row (both NULL) stays NULL
    out = out.withColumn(
        "_runmax", F.greatest(F.col("_localmax"), F.col("_prevmax"))
    )
    return out.drop("_pid", "_pmax", "_prevmax", "_localmax")


def ntile_from_rank(rk: str, n: str, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` recomputed from a global rank: with
    q = n div t and r = n mod t, the first r tiles hold q+1 rows and the
    rest hold q — the exact ANSI tile-size rule, spelled in int64
    arithmetic only (``DIV``/``%``), so it is bitwise identical to both
    engines' ntile over the same ordering.  ``rk``/``n`` are column
    names (1-based rank, total count)."""
    t = int(tiles)
    return F.expr(
        f"CASE WHEN {rk} <= ({n} % {t}) * ({n} DIV {t} + 1)"
        f" THEN ({rk} - 1) DIV ({n} DIV {t} + 1) + 1"
        f" ELSE ({n} % {t}) + 1 +"
        f" ({rk} - ({n} % {t}) * ({n} DIV {t} + 1) - 1) DIV ({n} DIV {t})"
        " END"
    ).cast("int")
