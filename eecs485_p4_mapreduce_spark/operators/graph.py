"""Iterative graph algorithm (SURVEY.md §2.C: the "non-SQL-expressible"
category -- except we pin even this to an oracle by unrolling the fixed
iteration count into chained CTEs).

PageRank over the event-type transition graph: nodes are event types,
edge u->v weighted by how often v follows u in some user's timeline.
The edge extraction is the scale-relevant part (one window shuffle over
the full events table); the iteration then runs on the tiny aggregated
graph -- the standard shape for graph analytics on log data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.functions.modelstore import load_or_build_frame, pin
from eecs485_p4_mapreduce_spark.functions.numeric import (
    hu_ratio,
    hu_ratio_signed,
    hu_ratio_signed_sql,
)
from eecs485_p4_mapreduce_spark.plans.registry import query
from eecs485_p4_mapreduce_spark.sources import load_table, widen_scan

_ITERS = 10
_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Unroll the fixed-point iteration into chained CTEs (r0..rN)."""
    parts = [
        """
        edges AS (
          SELECT src, dst, COUNT(*) AS w FROM (
            SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS src,
                   event_type AS dst
            FROM events)
          WHERE src IS NOT NULL GROUP BY src, dst),
        outw AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT dst AS node FROM edges
                  UNION SELECT DISTINCT src FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
        """
    ]
    for k in range(_ITERS):
        parts.append(
            f"""
        r{k + 1} AS (
          SELECT n.node,
                 (1.0 - {_DAMP}) / (SELECT n FROM nn) + {_DAMP} * coalesce(SUM(
                     r.rank * e.w / o.tw), 0.0) AS rank
          FROM nodes n
          LEFT JOIN edges e ON e.dst = n.node
          LEFT JOIN r{k} r ON r.node = e.src
          LEFT JOIN outw o ON o.src = e.src
          GROUP BY n.node)
            """
        )
    return (
        "WITH " + ",".join(parts)
        + f" SELECT node AS event_type, round(rank, 6) AS pagerank FROM r{_ITERS}"
    )


def _pagerank_setup(spark: SparkSession, sf_dir: str):
    """Build the iteration-invariant frames (edges, out-weights, nodes)
    and the initial uniform rank vector; shared by the query loop and
    the plan audit's per-iteration template."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    edges = pin(
        e.select(F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst"))
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )  # iteration reuses edges; never recompute the window
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    nodes = (
        edges.select(F.col("dst").alias("node"))
        .union(edges.select(F.col("src").alias("node")))
        .distinct()
    )
    # node count from the data, not a constant: a generator change in the
    # number of event types must not silently break rank normalization
    n_nodes = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    contrib_base = edges.join(outw, "src")
    return nodes, contrib_base, ranks, n_nodes


def _pagerank_step(nodes, contrib_base, ranks, n_nodes: int) -> DataFrame:
    """ONE PageRank iteration: contribution join + inflow aggregate +
    damped update -- the template the driver loop repeats.  Audited by
    tools/plan_audit.py as the representative iterative plan."""
    incoming = (
        contrib_base.join(ranks, contrib_base.src == ranks.node)
        .select(
            F.col("dst"),
            (F.col("rank") * F.col("w") / F.col("tw")).alias("c"),
        )
        .groupBy("dst")
        .agg(F.sum("c").alias("inflow"))
    )
    return (
        nodes.join(incoming, nodes.node == incoming.dst, "left")
        .select(
            "node",
            (
                F.lit((1.0 - _DAMP) / n_nodes)
                + F.lit(_DAMP) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
    )


def _pagerank_iteration_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy one-iteration plan for the audit (setup executes; the
    returned frame does not)."""
    nodes, contrib_base, ranks, n_nodes = _pagerank_setup(spark, sf_dir)
    return _pagerank_step(nodes, contrib_base, ranks, n_nodes)


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (10 iterations, d=0.85) on event-type
    transitions.

    Spark side: one window shuffle extracts edges from the raw log, then
    a driver-side loop iterates on the aggregated graph (broadcast-sized
    here; at billions of nodes each iteration is the classic
    join-aggregate with the rank DataFrame checkpointed every few steps
    to truncate lineage -- same code shape).  The DuckDB oracle unrolls
    the same 10 iterations as chained CTEs, proving even the iterative
    operator exactly.
    """
    nodes, contrib_base, ranks, n_nodes = _pagerank_setup(spark, sf_dir)
    for k in range(_ITERS):
        ranks = _pagerank_step(nodes, contrib_base, ranks, n_nodes)
        if (k + 1) % 4 == 0:
            # truncate lineage: iterative plans grow linearly and would
            # blow up analysis/codegen time by iteration ~15 otherwise
            ranks = pin(ranks)
    return ranks.select(F.col("node").alias("event_type"), F.round("rank", 6).alias("pagerank"))


# ------------------------------------------------ degree-oriented wedges
#
# The wedge-closure family (triangle count, clustering coefficient, link
# prediction, 2-hop centrality) enumerates wedges from the degree-
# ORIENTED edge set (dedup.lsh_oriented_edges: every edge lo -> hi by
# the (degree, doc_id) total order) instead of the full both-directions
# adjacency.  Orientation is a pure relabeling — the wedge and triangle
# MULTISETS are provably identical to the unoriented enumeration, so
# every oracle below is unchanged — but the join volume drops:
#
# - Full wedge enumeration splits into three disjoint classes by the
#   middle vertex's rank in its wedge triple (out-out at the minimum,
#   in-out between, in-in at the maximum): per middle the enumerated
#   match volume is i^2 + i*o + o^2 instead of the unoriented (i+o)^2,
#   and each wedge arrives exactly once (no post-join dedup filter over
#   half the pairs).
# - Triangle LISTING needs only the out-out class at each triangle's
#   key-minimum vertex plus one closing-edge probe: total wedge work is
#   sum(out-degree^2) = O(m^1.5) on any graph, instead of degree^2 at
#   hub vertices — the classic orientation bound, and the documented
#   100 TB move for this family (BENCHNOTES).


def _oriented_wedges(oe: DataFrame, widen: bool = True) -> DataFrame:
    """Every wedge {x, y}-through-some-middle exactly once, as id-
    canonical pairs ``(u, w)`` with ``u < w`` — the same multiset the
    both-directions ``adj JOIN adj ON a1.v = a2.u WHERE a1.u < a2.v``
    enumeration produces, at i^2+io+o^2 join volume per middle.
    ``widen`` per the decision rule below."""
    if widen:
        # Conditional keyed spread of the oriented-edge frame before the
        # wedge self-join (the minhash_banded pattern, at the JOIN
        # level): the published edge parquet is one compact split, and
        # the self-joins broadcast one side — so the stream side's task
        # count IS the edge scan's split count, and the whole wedge
        # fan-out (6.6M rows from 107k edges at sf0.1) plus its map-side
        # partial aggregation was produced on as many cores as there
        # were plan branches (measured: a 3-task union stage doing 4.8s
        # of enumeration).  Spreading the 107k edge rows first is ~3MB
        # of shuffle for a >10x wider produce stage; a wide production
        # scan never pays it.  Pay it ONLY where the consumer AGGREGATES
        # the wedge stream (the linkpred groupBys: map-side partial
        # aggregation from 32 producer partitions beats 3 — measured
        # adamic_adar 4.2 -> 2.0 s warm, common_neighbors 2.7 -> 1.6 s
        # in one session).  Where the consumer re-shuffles raw wedge
        # rows anyway (the centrality DISTINCT's own 128-way
        # repartition, the triangle closing-edge probe) the extra
        # exchange only adds shuffle machinery — measured centrality
        # 3.1 -> 4.2 s WITH the spread — so those paths pass
        # widen=False.
        oe = widen_scan(oe, "lo", "hi")
    a, b = oe.alias("a"), oe.alias("b")
    ka_hi = F.struct(F.col("a.dhi"), F.col("a.hi"))
    kb_hi = F.struct(F.col("b.dhi"), F.col("b.hi"))
    ka_lo = F.struct(F.col("a.dlo"), F.col("a.lo"))
    kb_lo = F.struct(F.col("b.dlo"), F.col("b.lo"))
    # middle is the wedge's key-minimum: both legs point out of it
    oo = (
        a.join(b, F.col("a.lo") == F.col("b.lo"))
        .filter(ka_hi < kb_hi)
        .select(F.col("a.hi").alias("x"), F.col("b.hi").alias("y"))
    )
    # middle between its endpoints: one in-leg, one out-leg (no dedup
    # filter needed — each such wedge has exactly one generation)
    io = a.join(b, F.col("a.hi") == F.col("b.lo")).select(
        F.col("a.lo").alias("x"), F.col("b.hi").alias("y")
    )
    # middle is the key-maximum: both legs point into it
    ii = (
        a.join(b, F.col("a.hi") == F.col("b.hi"))
        .filter(ka_lo < kb_lo)
        .select(F.col("a.lo").alias("x"), F.col("b.lo").alias("y"))
    )
    w = oo.unionAll(io).unionAll(ii)
    return w.select(
        F.least("x", "y").alias("u"), F.greatest("x", "y").alias("w")
    )


def _oriented_wedge_pairs_distinct(oe: DataFrame) -> DataFrame:
    """DISTINCT id-canonical wedge endpoint pairs, deduped across an
    EXPLICIT-width exchange (round-9): the wedge multiset is the
    registry's largest intermediate, and on a small-heap vanilla
    session AQE's byte-sized post-shuffle coalescing folds its
    `.distinct()` into a handful of tasks whose in-memory hash maps
    (~50 bytes/entry vs 16 compressed shuffle bytes/row) blow a 1g
    heap.  A user-specified ``repartition(n, u, w)`` pins the reduce
    width — AQE never coalesces user-requested partitioning — and
    ``dropDuplicates`` then dedups IN PLACE (the hash partitioning
    already satisfies the aggregate's clustering, so no second
    exchange).  Width follows the functions/ranking.py convention
    (defaultParallelism-derived, 4x for the hash-map expansion ratio);
    replaces round 8's coalescing-disable conf scope with a plan-level
    shape that needs no session conf at all.  Trade: the raw multiset
    crosses the wire un-combined (no map-side partial dedup) — ~2x
    rows for this graph, bounded by the orientation's i^2+io+o^2
    wedge volume, and immune to the coalesce-then-OOM failure mode at
    ANY heap size."""
    spark = oe.sparkSession
    n = 4 * spark.sparkContext.defaultParallelism
    # widen=False: the explicit repartition below re-shuffles every raw
    # wedge row regardless, so a wide produce stage only adds an
    # exchange (measured 3.1 -> 4.2 s warm WITH the spread)
    return (
        _oriented_wedges(oe, widen=False)
        .repartition(n, "u", "w")
        .dropDuplicates()
    )


def _oriented_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every triangle of the candidate graph exactly once (see
    :func:`_triangles_from_oriented`)."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_oriented_edges

    return _triangles_from_oriented(lsh_oriented_edges(spark, sf_dir))


def _triangles_from_oriented(oe: DataFrame) -> DataFrame:
    """Every triangle exactly once as ``(a, b, c)`` (key-ascending; the
    same unordered-triple multiset the id-oriented e JOIN e JOIN e
    closure lists): out-out wedges at the key-minimum vertex, closed by
    one oriented-edge probe — sum(out-degree^2) total wedge work.
    Split from the corpus wrapper so the property test can drive it
    over arbitrary generated edge sets.  No widen_scan here: the closing
    probe re-joins raw rows rather than aggregating them, and the A/B
    measured the spread slightly NEGATIVE (1.13 -> 1.24 s warm)."""
    ab, ac, bc = oe.alias("ab"), oe.alias("ac"), oe.alias("bc")
    return (
        ab.join(ac, F.col("ac.lo") == F.col("ab.lo"))
        .filter(
            F.struct(F.col("ab.dhi"), F.col("ab.hi"))
            < F.struct(F.col("ac.dhi"), F.col("ac.hi"))
        )
        .join(
            bc,
            (F.col("bc.lo") == F.col("ab.hi")) & (F.col("bc.hi") == F.col("ac.hi")),
        )
        .select(
            F.col("ab.lo").alias("a"),
            F.col("ab.hi").alias("b"),
            F.col("ac.hi").alias("c"),
        )
    )


def _triangle_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    tri AS (SELECT ab.da AS a, ab.db AS b, bc.db AS c
            FROM e ab
            JOIN e bc ON bc.da = ab.db
            JOIN e ac ON ac.da = ab.da AND ac.db = bc.db),
    tn AS (SELECT unnest(list_value(a, b, c)) AS doc_id FROM tri),
    tc AS (SELECT doc_id, COUNT(*) AS n_triangles FROM tn GROUP BY doc_id),
    deg AS (SELECT doc_id, COUNT(*) AS degree FROM
            (SELECT da AS doc_id FROM e UNION ALL SELECT db AS doc_id FROM e)
            GROUP BY doc_id)
    SELECT tc.doc_id, CAST(deg.degree AS BIGINT) AS degree,
           CAST(tc.n_triangles AS BIGINT) AS n_triangles
    FROM tc JOIN deg ON deg.doc_id = tc.doc_id
    """


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the MinHash-LSH candidate graph: nodes are
    documents, edges are band-collision candidate pairs (the same edge
    set dedup_minhash_lsh emits), and a triangle means three documents
    that are all pairwise near-dup candidates — the density signal that
    separates a tight duplicate cluster from a chain of borderline
    pairs.

    The classic distributed formulation, with DEGREE-ordered
    orientation (the `_oriented_triangles` helper): every edge points
    low-(degree, id) -> high, wedges enumerate only at each triangle's
    key-minimum vertex (out-out pairs), and one oriented-edge hash
    probe closes them — sum(out-degree^2) = O(m^1.5) wedge work, so hub
    nodes never own every wedge.  The triangle multiset is provably the
    id-oriented closure's (orientation is a relabeling), so the oracle
    keeps the plain e JOIN e JOIN e spelling.  All shuffles key on doc
    ids over the stored edge set."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    edges = lsh_candidate_edges(spark, sf_dir)
    tri = _oriented_triangles(spark, sf_dir)
    tc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("da").alias("doc_id"))
        .unionAll(edges.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return tc.join(deg, "doc_id").select("doc_id", "degree", "n_triangles")


@query(
    "graph_markov_transitions",
    oracle="""
    WITH edges AS (
      SELECT src, dst, COUNT(*) AS c FROM (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS src,
               event_type AS dst
        FROM events)
      WHERE src IS NOT NULL GROUP BY src, dst),
    rowsum AS (SELECT src, SUM(c) AS total FROM edges GROUP BY src)
    SELECT e.src, e.dst, CAST(e.c AS BIGINT) AS n,
           CAST(CAST((2 * CAST(e.c AS HUGEINT) * 1000000 + r.total)
                     // (2 * CAST(r.total AS HUGEINT)) AS BIGINT) AS DOUBLE)
             / 1000000 AS p
    FROM edges e JOIN rowsum r ON r.src = e.src
    """,
)
def graph_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: P(next
    type | current type) from per-user consecutive pairs — the
    row-stochastic matrix behind next-event prediction and the very
    edge weights ``graph_pagerank`` walks.  One lag window (user_id
    shuffle) + two tiny aggregates; probabilities render from exact integer
    counts by the half-up recipe."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst")
    ).filter(F.col("src").isNotNull())
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("c"))
    rowsum = edges.groupBy("src").agg(F.sum("c").alias("total"))
    return edges.join(F.broadcast(rowsum), "src").select(
        "src",
        "dst",
        F.col("c").cast("bigint").alias("n"),
        # integer half-up recipe: count ratios can land on decimal halves
        hu_ratio("c", "total", 6).alias("p"),
    )


_KCORE_K = 2
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    sql = f"""{MINHASH_BANDED_DUCK},
    e0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM banded a JOIN banded b
             ON a.b = b.b AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id)"""
    for r in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    d{r} AS MATERIALIZED (SELECT doc_id, COUNT(*) AS deg FROM
             (SELECT da AS doc_id FROM e{r - 1}
              UNION ALL SELECT db AS doc_id FROM e{r - 1}) GROUP BY 1),
    k{r} AS (SELECT doc_id FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS MATERIALIZED (SELECT e.da, e.db FROM e{r - 1} e
             JOIN k{r} a ON e.da = a.doc_id
             JOIN k{r} b ON e.db = b.doc_id)"""
    sql += f"""
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM
    (SELECT da AS doc_id FROM e{_KCORE_ROUNDS}
     UNION ALL SELECT db AS doc_id FROM e{_KCORE_ROUNDS})
    GROUP BY 1
    """
    return sql


@query("graph_kcore_2core", oracle=_kcore_oracle())
def graph_kcore_2core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=2) of the MinHash-LSH candidate graph
    by iterative peeling: repeatedly drop nodes with degree < k and
    their incident edges.  The surviving 2-core is the set of documents
    embedded in genuinely dense duplicate neighborhoods -- chains and
    isolated pairs (degree-1 structures) peel away, which is exactly
    the filter one wants before running expensive verify stages on
    "cluster-like" regions.

    Distributed shape per round: a degree count (map-side combinable)
    plus two equi-joins of the edge list against the surviving-node
    list -- all shuffles key on doc ids, nothing is ever collected, and
    a pin after each round keeps the lineage flat (the
    dedup_clusters discipline).  Rounds are FIXED at {r} on both
    engines, so the contract is deterministic at any scale even if an
    adversarial graph needs more rounds to fully converge (unit test
    pins convergence at test scale).  Output: surviving nodes with
    their in-core degree.
    """
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    surv = lsh_candidate_edges(spark, sf_dir)
    for _ in range(_KCORE_ROUNDS):
        deg = (
            surv.select(F.col("da").alias("doc_id"))
            .unionAll(surv.select(F.col("db").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("doc_id")
        surv = pin(
            surv.join(keep.withColumnRenamed("doc_id", "da"), "da")
            .join(keep.withColumnRenamed("doc_id", "db"), "db")
            .select("da", "db")
        )
    return (
        surv.select(F.col("da").alias("doc_id"))
        .unionAll(surv.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


_LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    sql = f"""{MINHASH_BANDED_DUCK},
    eu AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id <> b.doc_id),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM eu)"""
    for r in range(1, _LPA_ROUNDS + 1):
        sql += f""",
    votes{r} AS (
      SELECT e.u AS node, l.lbl, COUNT(*) AS c
      FROM eu e JOIN l{r - 1} l ON l.node = e.v
      GROUP BY e.u, l.lbl),
    best{r} AS (
      SELECT node, lbl,
             row_number() OVER (PARTITION BY node
                                ORDER BY c DESC, lbl ASC) AS rk
      FROM votes{r}),
    l{r} AS MATERIALIZED (SELECT node, lbl FROM best{r} WHERE rk = 1)"""
    sql += f"""
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LPA_ROUNDS}
    GROUP BY lbl HAVING COUNT(*) >= 2
    """
    return sql


@query("graph_lpa_communities", oracle=_lpa_oracle())
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 rounds) over the MinHash
    candidate graph: every node starts as its own label and adopts its
    neighbors' plurality label each round (ties -> smallest label).
    Where connected components (dedup_clusters) merge everything
    touching, LPA keeps loosely-bridged groups apart -- the usual
    community view of a near-dup graph where one templated page chains
    two otherwise-distinct clusters.

    Deterministic by construction: plurality is a (count DESC, label
    ASC) rank, rounds are FIXED on both engines (the async/random-order
    LPA of the literature is not replayable -- the synchronous variant
    is the one a distributed engine wants anyway).  Each round is one
    neighbor join + one count + one per-node rank, all keyed on doc
    ids; the oracle unrolls the identical rounds as CTEs.  Output:
    communities with >= 2 members.
    """
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    # the directed (u != v) adjacency is both orientations of the
    # stored low-high edge set (identical to the old inline
    # banded self-join with a != guard)
    e = lsh_candidate_edges(spark, sf_dir)
    eu = e.select(F.col("da").alias("u"), F.col("db").alias("v")).unionAll(
        e.select(F.col("db").alias("u"), F.col("da").alias("v"))
    )
    labels = eu.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            eu.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl").asc())
        labels = pin(
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


_LP_TOPK = 50  # link-prediction readout size


def _linkpred_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    adj AS (SELECT da AS u, db AS v FROM e
            UNION ALL SELECT db AS u, da AS v FROM e),
    wedge AS (SELECT a1.u AS a, a2.v AS c
              FROM adj a1 JOIN adj a2 ON a2.u = a1.v AND a1.u < a2.v),
    cn AS (SELECT a, c, CAST(COUNT(*) AS BIGINT) AS common_neighbors
           FROM wedge GROUP BY a, c),
    pred AS (SELECT cn.a, cn.c, cn.common_neighbors
             FROM cn LEFT JOIN e ON e.da = cn.a AND e.db = cn.c
             WHERE e.da IS NULL)
    SELECT a AS doc_a, c AS doc_b, common_neighbors
    FROM pred ORDER BY common_neighbors DESC, a, c LIMIT {_LP_TOPK}
    """


@query("graph_linkpred_common_neighbors", oracle=_linkpred_oracle())
def graph_linkpred_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count over the MinHash-LSH
    candidate graph: the top non-edges ranked by how many shared
    neighbors they have — pairs the banding *almost* connected.  In a
    dedup pipeline this is the second-pass candidate list (pairs worth
    an exact-similarity verify that no single band caught); on a social
    graph it is the classic friend-of-friend recommender.

    Plan: the shared stored DEGREE-ORIENTED edge set feeds the
    three-class wedge enumeration (`_oriented_wedges`: out-out / in-out
    / in-in by the middle's rank — i^2+io+o^2 join volume per middle
    instead of the both-directions (i+o)^2, each wedge exactly once);
    existing edges drop via a hash anti-join; the readout is a
    TakeOrdered with full (count DESC, a, c) tie-break.  The wedge
    multiset is provably the unoriented enumeration's, so the oracle
    keeps the both-directions adjacency spelling."""
    from eecs485_p4_mapreduce_spark.operators.dedup import (
        lsh_candidate_edges,
        lsh_oriented_edges,
    )

    edges = lsh_candidate_edges(spark, sf_dir)
    wedge = _oriented_wedges(lsh_oriented_edges(spark, sf_dir)).select(
        F.col("u").alias("a"), F.col("w").alias("c")
    )
    cn = wedge.groupBy("a", "c").agg(
        F.count("*").cast("bigint").alias("common_neighbors")
    )
    pred = cn.join(
        edges,
        (cn["a"] == edges["da"]) & (cn["c"] == edges["db"]),
        "left_anti",
    )
    return (
        pred.orderBy(F.desc("common_neighbors"), "a", "c")
        .limit(_LP_TOPK)
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "common_neighbors",
        )
    )


def _assortativity_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    deg AS (SELECT doc_id, COUNT(*) AS degree FROM
            (SELECT da AS doc_id FROM e UNION ALL SELECT db AS doc_id FROM e)
            GROUP BY doc_id),
    ed AS (SELECT x.degree AS j, y.degree AS k
           FROM e JOIN deg x ON x.doc_id = e.da
                  JOIN deg y ON y.doc_id = e.db),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(j * k) AS BIGINT) AS s_jk,
                 CAST(SUM(j + k) AS BIGINT) AS s1,
                 CAST(SUM(j * j + k * k) AS BIGINT) AS s2
          FROM ed)
    SELECT m AS m_edges, s_jk, s1 AS sum_deg, s2 AS sum_deg_sq,
           {hu_ratio_signed_sql(
               "4 * CAST(m AS HUGEINT) * s_jk"
               " - CAST(s1 AS HUGEINT) * s1",
               "2 * CAST(m AS HUGEINT) * s2"
               " - CAST(s1 AS HUGEINT) * s1", 6)} AS assortativity
    FROM s
    """


@query("graph_assortativity", oracle=_assortativity_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient (Newman's r) of the MinHash-LSH
    candidate graph: do high-degree documents pair with other
    high-degree documents (r > 0, a hairball of templated boilerplate)
    or with low-degree ones (r < 0, hub-and-spoke near-dup families)?
    The readout that tells a dedup pipeline whether its candidate graph
    clusters or chains — clustered graphs dedup safely cluster-by-
    cluster, disassortative hubs need the span-rewrite treatment.

    Determinism: degrees are exact integer counts; the three edge-sum
    moments (Σjk, Σ(j+k), Σ(j²+k²)) accumulate as BIGINTs, and r renders
    the integer combination (4M·Σjk − S1²) / (2M·ΣS2 − S1²) — the
    2M-edge-end Pearson formula cleared of fractions — via the signed
    half-up recipe, so no float enters at all.  Scale shape: the edge set is the
    banded LSH equi-join (bounded buckets); degrees are one
    map-side-combinable aggregate; attaching endpoint degrees is two
    doc-id hash joins; everything after is a single-row reduce."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    edges = lsh_candidate_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("da").alias("doc_id"))
        .unionAll(edges.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    ed = (
        edges.join(
            deg.select(F.col("doc_id").alias("da"), F.col("degree").alias("j")),
            "da",
        )
        .join(
            deg.select(F.col("doc_id").alias("db"), F.col("degree").alias("k")),
            "db",
        )
        .select("j", "k")
    )
    s = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("s1"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint")
        .alias("s2"),
    )
    return s.select(
        F.col("m").alias("m_edges"),
        "s_jk",
        F.col("s1").alias("sum_deg"),
        F.col("s2").alias("sum_deg_sq"),
        # Newman's r cleared of fractions is a pure integer ratio:
        # signed half-up recipe (a degree-regular graph has a zero
        # denominator -> NULL in both dialects), never round(double, 6)
        hu_ratio_signed(
            "4 * cast(m as decimal(38,0)) * s_jk"
            " - cast(s1 as decimal(38,0)) * s1",
            "2 * cast(m as decimal(38,0)) * s2"
            " - cast(s1 as decimal(38,0)) * s1",
            6,
        ).alias("assortativity"),
    )


def _clustcoef_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    tri AS (SELECT ab.da AS a, ab.db AS b, bc.db AS c
            FROM e ab
            JOIN e bc ON bc.da = ab.db
            JOIN e ac ON ac.da = ab.da AND ac.db = bc.db),
    tn AS (SELECT unnest(list_value(a, b, c)) AS doc_id FROM tri),
    tc AS (SELECT doc_id, COUNT(*) AS t FROM tn GROUP BY doc_id),
    deg AS (SELECT doc_id, COUNT(*) AS d FROM
            (SELECT da AS doc_id FROM e UNION ALL SELECT db AS doc_id FROM e)
            GROUP BY doc_id),
    node AS (
      SELECT deg.doc_id, deg.d, COALESCE(tc.t, 0) AS t
      FROM deg LEFT JOIN tc ON tc.doc_id = deg.doc_id
      WHERE deg.d >= 2),
    cc AS (
      SELECT CAST(length(bin(CAST(d AS BIGINT))) - 1 AS BIGINT)
               AS degree_band,
             d, t,
             (2 * (2 * t) * 10000 + d * (d - 1)) // (2 * d * (d - 1)) AS cc_bp
      FROM node),
    g AS (
      SELECT degree_band,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1)) AS BIGINT) AS wedges_x2,
             CAST(SUM(2 * t) AS BIGINT) AS closed_x2,
             CAST(SUM(cc_bp) AS HUGEINT) AS sum_bp
      FROM cc GROUP BY degree_band)
    SELECT degree_band, n_nodes, wedges_x2, closed_x2,
           CAST(CAST((2 * sum_bp + n_nodes) // (2 * CAST(n_nodes AS HUGEINT))
                AS BIGINT) AS DOUBLE) / 10000 AS avg_local_cc,
           CAST(CAST((2 * CAST(closed_x2 AS HUGEINT) * 10000 + wedges_x2)
                     // (2 * CAST(wedges_x2 AS HUGEINT))
                AS BIGINT) AS DOUBLE) / 10000 AS pooled_cc
    FROM g
    """


@query("graph_clustering_coefficient", oracle=_clustcoef_oracle())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the MinHash-LSH candidate graph,
    rolled up by log2 degree band: cc_i = 2*t_i / (d_i*(d_i-1)) per
    document, then per-band node count, open/closed wedge totals, the
    mean local coefficient, and the band-pooled coefficient.  Where
    ``graph_triangle_count`` emits raw per-node counts and
    ``graph_assortativity`` one global mixing number, this is the
    degree-resolved clustering profile — the readout that separates
    "small tight duplicate cliques" (high cc at low degree) from
    "boilerplate hairball" (high degree, low cc) before committing to a
    cluster-level dedup strategy.

    Determinism: degrees and triangle counts are exact integers; each
    local cc quantizes to integer basis points by the INT64 round-half-up
    recipe (2·num·10⁴ + den) DIV (2·den) — round(double, 4) would
    disagree between engines exactly when a mean lands on a half
    boundary (found at sf0.001: 0.25325 → Spark 0.2533 vs DuckDB
    0.2532); band mean and pooled cc render the same way from exact
    integer sums (HUGEINT on the oracle side for 100 TB headroom, the
    t-closeness precedent), so the ONLY float op anywhere is the final
    shared /10⁴.  Band is bit-length arithmetic (length(bin(d))-1), no
    libm.  Scale shape: identical to graph_triangle_count (degree-
    oriented out-out wedge closure via `_oriented_triangles` —
    sum(out-degree^2) wedge work, identical triangle multiset,
    map-side-combinable rollups) with a ≤64-band final aggregate."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    edges = lsh_candidate_edges(spark, sf_dir)
    tri = _oriented_triangles(spark, sf_dir)
    tc = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    deg = (
        edges.select(F.col("da").alias("doc_id"))
        .unionAll(edges.select(F.col("db").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    node = (
        deg.filter(F.col("d") >= 2)
        .join(tc, "doc_id", "left")
        .withColumn("t", F.coalesce(F.col("t"), F.lit(0).cast("bigint")))
    )
    cc = node.select(
        F.expr("cast(length(bin(cast(d as bigint))) - 1 as bigint)").alias(
            "degree_band"
        ),
        "d",
        "t",
        F.expr("(2 * (2 * t) * 10000 + d * (d - 1)) div (2 * d * (d - 1))").alias(
            "cc_bp"
        ),
    )
    g = cc.groupBy("degree_band").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).cast("bigint").alias("wedges_x2"),
        F.sum(2 * F.col("t")).cast("bigint").alias("closed_x2"),
        F.sum(F.col("cc_bp").cast("decimal(38,0)")).alias("sum_bp"),
    )
    return g.select(
        "degree_band",
        "n_nodes",
        "wedges_x2",
        "closed_x2",
        (
            F.expr(
                "cast((2 * sum_bp + n_nodes) div (2 * cast(n_nodes as decimal(38,0)))"
                " as bigint)"
            ).cast("double")
            / 10000
        ).alias("avg_local_cc"),
        (
            F.expr(
                "cast((2 * cast(closed_x2 as decimal(38,0)) * 10000 + wedges_x2)"
                " div (2 * cast(wedges_x2 as decimal(38,0))) as bigint)"
            ).cast("double")
            / 10000
        ).alias("pooled_cc"),
    )


_CENT_TOPK = 20


def _centrality_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    adj AS (SELECT da AS u, db AS v FROM e
            UNION ALL SELECT db AS u, da AS v FROM e),
    one AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n1 FROM adj GROUP BY u),
    two_raw AS (SELECT DISTINCT a1.u AS u, a2.v AS w
                FROM adj a1 JOIN adj a2 ON a2.u = a1.v
                WHERE a2.v <> a1.u),
    two AS (SELECT t.u, CAST(COUNT(*) AS BIGINT) AS n2
            FROM two_raw t
            LEFT JOIN adj ON adj.u = t.u AND adj.v = t.w
            WHERE adj.u IS NULL
            GROUP BY t.u),
    sc AS (SELECT one.u AS doc_id, one.n1, COALESCE(two.n2, 0) AS n2,
                  2 * one.n1 + COALESCE(two.n2, 0) AS harmonic_x2
           FROM one LEFT JOIN two ON two.u = one.u)
    SELECT doc_id, n1, n2, harmonic_x2
    FROM sc ORDER BY harmonic_x2 DESC, doc_id LIMIT {_CENT_TOPK}
    """


@query("graph_centrality_2hop", oracle=_centrality_oracle())
def graph_centrality_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded harmonic centrality over the candidate graph: each
    document scored by n1 + n2/2 (direct neighbors at distance 1,
    strict 2-hop neighbors at distance 2) — the truncated-closeness
    readout that finds the documents sitting at the center of near-dup
    neighborhoods (dedup them first and whole families collapse),
    without the unbounded BFS full closeness needs.  Reported as
    harmonic_x2 = 2·n1 + n2 so every value is an exact integer.

    Scale shape: the stored DEGREE-ORIENTED edge set feeds the
    three-class wedge enumeration (`_oriented_wedges` — i^2+io+o^2 join
    volume per middle instead of the both-directions (i+o)^2, each
    unordered 2-path pair derived from exactly the same wedge multiset)
    with a DISTINCT, an anti-join that removes distance-1 pairs from
    the 2-hop set, and a TakeOrdered top-k; n1 is the degree aggregate
    over the undirected edge set.  Determinism: pure integer counts
    with the (score DESC, doc_id) tie-break.

    Memory shape (round-9): the wedge-multiset DISTINCT is the largest
    intermediate in the whole registry; deduping each wedge class
    BEFORE the union (`_oriented_wedge_pairs_distinct`) keeps every
    hash aggregate small enough for AQE's coalesced task widths even
    on a 1g-heap vanilla session — replacing round 8's
    coalescing-disable conf scope with a plan that is also strictly
    less shuffle volume at scale (per-class dedup is partial
    aggregation for DISTINCT)."""
    from eecs485_p4_mapreduce_spark.operators.dedup import (
        lsh_candidate_edges,
        lsh_oriented_edges,
    )

    edges = lsh_candidate_edges(spark, sf_dir)
    one = (
        edges.select(F.col("da").alias("u"))
        .unionAll(edges.select(F.col("db").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("n1"))
    )
    # id-canonical (u < w) pairs, same SET as the adjacency self-join's
    # distinct, so the strict-distance-2 anti-join below needs no
    # least/greatest normalization (the linkpred wedge discipline)
    pairs2 = _oriented_wedge_pairs_distinct(lsh_oriented_edges(spark, sf_dir))
    strict2 = pairs2.join(
        edges,
        (F.col("u") == F.col("da")) & (F.col("w") == F.col("db")),
        "left_anti",
    )
    two = (
        strict2.select("u")
        .unionAll(strict2.select(F.col("w").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("n2"))
    )
    sc = one.join(two, "u", "left").select(
        F.col("u").alias("doc_id"),
        "n1",
        F.coalesce("n2", F.lit(0).cast("bigint")).alias("n2"),
        (2 * F.col("n1") + F.coalesce("n2", F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("harmonic_x2"),
    )
    return sc.orderBy(F.desc("harmonic_x2"), "doc_id").limit(_CENT_TOPK)


_CENT_CAP = 8  # hub cap: neighbors kept per vertex in the capped graph


def _capped_adjacency(edges: DataFrame) -> DataFrame:
    """Deterministic hub cap: each vertex's adjacency truncated to its
    _CENT_CAP smallest-id neighbors via a u-KEYED row_number window
    (key-partitioned per-group top-k, never a global sort).  Factored
    pre-checkpoint so tests/plan audits can pin the window shape (the
    `_pagerank_step` convention — the checkpoint in the query hides the
    executed sub-plan behind an ExistingRDD scan)."""
    adj = edges.select(F.col("da").alias("u"), F.col("db").alias("v")).unionAll(
        edges.select(F.col("db").alias("u"), F.col("da").alias("v"))
    )
    wcap = Window.partitionBy("u").orderBy("v")
    return (
        adj.withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= _CENT_CAP)
        .select("u", "v")
    )


def _centrality_capped_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    adj AS (SELECT da AS u, db AS v FROM e
            UNION ALL SELECT db AS u, da AS v FROM e),
    cap AS (SELECT u, v FROM (
              SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rk
              FROM adj) WHERE rk <= {_CENT_CAP}),
    one AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n1 FROM cap GROUP BY u),
    two_raw AS (SELECT DISTINCT a1.u AS u, a2.v AS w
                FROM cap a1 JOIN cap a2 ON a2.u = a1.v
                WHERE a2.v <> a1.u),
    two AS (SELECT t.u, CAST(COUNT(*) AS BIGINT) AS n2
            FROM two_raw t
            LEFT JOIN cap ON cap.u = t.u AND cap.v = t.w
            WHERE cap.u IS NULL
            GROUP BY t.u),
    sc AS (SELECT one.u AS doc_id, one.n1, COALESCE(two.n2, 0) AS n2,
                  2 * one.n1 + COALESCE(two.n2, 0) AS harmonic_x2
           FROM one LEFT JOIN two ON two.u = one.u)
    SELECT doc_id, n1, n2, harmonic_x2
    FROM sc ORDER BY harmonic_x2 DESC, doc_id LIMIT {_CENT_TOPK}
    """


@query("graph_centrality_2hop_capped", oracle=_centrality_capped_oracle())
def graph_centrality_2hop_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUB-CAPPED 2-hop harmonic centrality — the other half of the
    wedge family's documented 100 TB plan (degree-ordered orientation,
    implemented exactly in `_oriented_wedges`, PLUS hub capping, which
    trades exactness for a hard fan-out bound and therefore lives in
    its own query with its own oracle rather than silently changing
    ``graph_centrality_2hop``).  Every vertex keeps only its
    {_CENT_CAP} smallest-id neighbors (a DETERMINISTIC cap, so the
    DuckDB twin replays it bit-exactly); n1/n2/harmonic_x2 are then the
    exact centralities OF THE CAPPED GRAPH.  At web-graph skew this is
    the production knob: wedge volume per middle drops from degree² to
    ≤ {_CENT_CAP}², so a 10⁶-degree hub costs the same as any other
    vertex while low-degree structure (most of the graph) is untouched.

    Plan: adjacency cap is one u-keyed row_number window (key-
    partitioned, per-partition heap — never a global sort), the wedge
    closure is one capped-adjacency self-join with a DISTINCT, then the
    strict-distance-2 anti-join and TakeOrdered of the exact query.
    Determinism: integer counts, (score DESC, doc_id) tie-break, and a
    cap rule that is a pure function of the edge set."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    edges = lsh_candidate_edges(spark, sf_dir)
    # degree, both wedge sides, and the anti-join reuse the capped set
    cap = pin(_capped_adjacency(edges))
    one = cap.groupBy("u").agg(F.count("*").cast("bigint").alias("n1"))
    pairs2 = (
        cap.alias("a1")
        .join(cap.alias("a2"), F.col("a2.u") == F.col("a1.v"))
        .filter(F.col("a2.v") != F.col("a1.u"))
        .select(F.col("a1.u").alias("u"), F.col("a2.v").alias("w"))
        .distinct()
    )
    strict2 = pairs2.alias("p").join(
        cap.alias("c"),
        (F.col("p.u") == F.col("c.u")) & (F.col("p.w") == F.col("c.v")),
        "left_anti",
    )
    two = strict2.groupBy("u").agg(F.count("*").cast("bigint").alias("n2"))
    sc = one.join(two, "u", "left").select(
        F.col("u").alias("doc_id"),
        "n1",
        F.coalesce("n2", F.lit(0).cast("bigint")).alias("n2"),
        (2 * F.col("n1") + F.coalesce("n2", F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("harmonic_x2"),
    )
    return sc.orderBy(F.desc("harmonic_x2"), "doc_id").limit(_CENT_TOPK)


# --------------------------------------------------- HITS (bipartite)

_HITS_ITERS = 3
_HITS_SCALE = 1_000_000_000  # integer score grid: each side sums to ~1e9
_HITS_TOPK = 10


def _hits_oracle() -> str:
    """Unroll the alternating hub/authority updates into chained
    MATERIALIZED CTEs (each round's frame is referenced twice — the
    BPE-oracle CTE-inlining lesson)."""
    s = _HITS_SCALE
    parts = [
        f"""
        e AS MATERIALIZED (
          SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        h0 AS MATERIALIZED (
          SELECT c, CAST({s} AS BIGINT) AS h FROM (SELECT DISTINCT c FROM e))
        """
    ]
    for k in range(1, _HITS_ITERS + 1):
        parts.append(
            f"""
        ar{k} AS MATERIALIZED (
          SELECT e.p, SUM(CAST(h.h AS HUGEINT)) AS raw
          FROM e JOIN h{k - 1} h USING (c) GROUP BY e.p),
        a{k} AS MATERIALIZED (
          SELECT p, CAST(CAST(raw AS HUGEINT) * {s}
                         // (SELECT SUM(raw) FROM ar{k}) AS BIGINT) AS a
          FROM ar{k}),
        hr{k} AS MATERIALIZED (
          SELECT e.c, SUM(CAST(a.a AS HUGEINT)) AS raw
          FROM e JOIN a{k} a USING (p) GROUP BY e.c),
        h{k} AS MATERIALIZED (
          SELECT c, CAST(CAST(raw AS HUGEINT) * {s}
                         // (SELECT SUM(raw) FROM hr{k}) AS BIGINT) AS h
          FROM hr{k})
            """
        )
    n = _HITS_ITERS
    return (
        "WITH " + ",".join(parts) + f""",
        atop AS (
          SELECT 'authority' AS side, p AS node_id, a AS score,
                 ROW_NUMBER() OVER (ORDER BY a DESC, p) AS rk
          FROM a{n} ORDER BY a DESC, p LIMIT {_HITS_TOPK}),
        htop AS (
          SELECT 'hub' AS side, c AS node_id, h AS score,
                 ROW_NUMBER() OVER (ORDER BY h DESC, c) AS rk
          FROM h{n} ORDER BY h DESC, c LIMIT {_HITS_TOPK})
        SELECT side, node_id, score, rk FROM atop
        UNION ALL SELECT side, node_id, score, rk FROM htop
        """
    )


@query("graph_hits_bipartite", oracle=_hits_oracle())
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) over the customer-part purchase bipartite graph:
    hub customers spread mass to the parts they buy, authority parts
    reflect it back — {_HITS_ITERS} alternating rounds from a uniform
    hub vector, top-{_HITS_TOPK} per side.  The bipartite companion of
    ``graph_pagerank`` (directed transitions) and the wedge family
    (undirected near-dup graph); on commerce data it surfaces the
    catalog's gravity centers and the basket-spanning buyers.

    Exactness: scores live on an INTEGER grid — each half-round L1-
    normalizes to ~{_HITS_SCALE} via floor division (decimal(38,0)
    ``div`` / HUGEINT ``//``, the exact-floor pair), so every score is
    an exact int64 in both engines and the ranking never orders floats.
    The per-round total is always > 0 on a non-empty edge set (the
    uniform init gives some contributing node a positive score, and
    every node has an edge by construction), so the ANSI division
    path is never reached with a zero divisor.

    Scale shape: per round, TWO edge-keyed equi-joins + two map-side-
    combinable aggregates + two 1-row totals broadcast back — the
    alternating sparse mat-vec, node-sized state pinned per
    round (the pagerank/kcore loop discipline).  Raw inflows are
    summed in decimal(38,0): raw <= |edges| * {_HITS_SCALE}, so int64
    would cap the graph at ~9e9 edges; decimal carries 100 TB.
    The readouts are two TakeOrdered({_HITS_TOPK}) heads with rank
    windows over <= {_HITS_TOPK}-row results.

    The distinct (customer, part) edge set is a corpus-derived frame —
    it persists cross-application via ``load_or_build_frame`` (the
    band-graph-stack discipline), keyed on BOTH source tables' mtime
    tokens (lineitem + orders via ``extra_tables`` — regenerating
    either one misses instead of serving a stale edge set), so a warm
    application's 6 edge scans read published parquet instead of
    re-deriving the 600k-row distinct."""
    def _build_edges() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )

    e = load_or_build_frame(
        spark,
        "hits_cp_edges",
        sf_dir,
        "lineitem",
        "c bigint, p bigint",
        _build_edges,
        extra_tables=("orders",),
        loader=load_table,
    )
    h = e.select("c").distinct().withColumn(
        "h", F.lit(_HITS_SCALE).cast("bigint")
    )

    def _normalize(raw_df, key: str, out: str):
        tot = raw_df.agg(F.sum("raw").alias("tot"))
        return raw_df.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(
                f"cast(cast(raw as decimal(38,0)) * {_HITS_SCALE}"
                f" div cast(tot as decimal(38,0)) as bigint)"
            ).alias(out),
        )

    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            e.join(h, "c")
            .groupBy("p")
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("raw"))
        )
        a = pin(_normalize(ar, "p", "a"))
        hr = (
            e.join(a, "p")
            .groupBy("c")
            .agg(F.sum(F.col("a").cast("decimal(38,0)")).alias("raw"))
        )
        h = pin(_normalize(hr, "c", "h"))

    from pyspark.sql import Window

    atop = (
        a.orderBy(F.desc("a"), "p")
        .limit(_HITS_TOPK)
        .select(
            F.lit("authority").alias("side"),
            F.col("p").alias("node_id"),
            F.col("a").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.desc("a"), "p"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    htop = (
        h.orderBy(F.desc("h"), "c")
        .limit(_HITS_TOPK)
        .select(
            F.lit("hub").alias("side"),
            F.col("c").alias("node_id"),
            F.col("h").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.desc("h"), "c"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    return atop.unionByName(htop)


# --------------------------------------------- Jaccard link prediction


def _linkpred_jaccard_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import (
        MINHASH_BANDED_DUCK,
    )
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio_sql

    j = hu_ratio_sql(
        "pred.common_neighbors * 1000000",
        "dga.deg + dgc.deg - pred.common_neighbors", 6)
    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    adj AS (SELECT da AS u, db AS v FROM e
            UNION ALL SELECT db AS u, da AS v FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY u),
    wedge AS (SELECT a1.u AS a, a2.v AS c
              FROM adj a1 JOIN adj a2 ON a2.u = a1.v AND a1.u < a2.v),
    cn AS (SELECT a, c, CAST(COUNT(*) AS BIGINT) AS common_neighbors
           FROM wedge GROUP BY a, c),
    pred AS (SELECT cn.a, cn.c, cn.common_neighbors
             FROM cn LEFT JOIN e ON e.da = cn.a AND e.db = cn.c
             WHERE e.da IS NULL),
    scored AS (
      SELECT pred.a, pred.c, pred.common_neighbors,
             CAST(dga.deg + dgc.deg - pred.common_neighbors AS BIGINT)
               AS union_size,
             {j} AS jaccard
      FROM pred JOIN deg dga ON dga.u = pred.a
                JOIN deg dgc ON dgc.u = pred.c)
    SELECT a AS doc_a, c AS doc_b, common_neighbors, union_size, jaccard
    FROM scored ORDER BY jaccard DESC, a, c LIMIT {_LP_TOPK}
    """


@query("graph_linkpred_jaccard", oracle=_linkpred_jaccard_oracle())
def graph_linkpred_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-normalized link prediction over the band-candidate
    graph: rank non-edges by |N(a) ∩ N(c)| / |N(a) ∪ N(c)| — the
    degree-corrected twin of ``graph_linkpred_common_neighbors`` (raw
    common-neighbor counts just surface hubs; the Jaccard score asks
    whether the SHARED neighborhood dominates both endpoints'
    neighborhoods, which is what actually predicts a missing near-dup
    edge).

    Determinism: counts and degrees are exact integers; the score is
    the exact rational cn/(deg_a + deg_c - cn) rendered onto the 1e-6
    grid by the half-up recipe BEFORE ranking, with (doc_a, doc_b) as
    the tie-break — the ranking-windows rule (never a raw-float
    ORDER BY; the denominator is >= 1 whenever the pair has a common
    neighbor, so no zero-division branch is reachable).  Plan: the
    shared oriented wedge enumeration + the persisted candidate edge
    set (both published derived frames), a two-sided broadcastable
    degree join, TakeOrdered readout — the oracle keeps the
    unoriented adjacency spelling (wedge-multiset equivalence is
    property-pinned)."""
    from eecs485_p4_mapreduce_spark.functions.numeric import hu_ratio
    from eecs485_p4_mapreduce_spark.operators.dedup import (
        lsh_candidate_edges,
        lsh_oriented_edges,
    )

    edges = lsh_candidate_edges(spark, sf_dir)
    adj = edges.select(F.col("da").alias("u")).unionByName(
        edges.select(F.col("db").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    wedge = _oriented_wedges(lsh_oriented_edges(spark, sf_dir)).select(
        F.col("u").alias("a"), F.col("w").alias("c")
    )
    cn = wedge.groupBy("a", "c").agg(
        F.count("*").cast("bigint").alias("common_neighbors")
    )
    pred = cn.join(
        edges,
        (cn["a"] == edges["da"]) & (cn["c"] == edges["db"]),
        "left_anti",
    )
    dga = deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))
    dgc = deg.select(F.col("u").alias("c"), F.col("deg").alias("deg_c"))
    scored = (
        pred.join(dga, "a")
        .join(dgc, "c")
        .select(
            "a",
            "c",
            "common_neighbors",
            (F.col("deg_a") + F.col("deg_c") - F.col("common_neighbors"))
            .cast("bigint")
            .alias("union_size"),
            hu_ratio(
                "cast(common_neighbors as decimal(38,0)) * 1000000",
                "deg_a + deg_c - common_neighbors",
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.desc("jaccard"), "a", "c")
        .limit(_LP_TOPK)
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "common_neighbors",
            "union_size",
            "jaccard",
        )
    )


def _adamic_adar_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    return f"""{MINHASH_BANDED_DUCK},
    e AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    adj AS (SELECT da AS u, db AS v FROM e
            UNION ALL SELECT db AS u, da AS v FROM e),
    deg AS (SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM adj GROUP BY 1),
    wedge AS (SELECT a1.u AS a, a1.v AS m, a2.v AS c
              FROM adj a1 JOIN adj a2 ON a2.u = a1.v AND a1.u < a2.v),
    aa AS (SELECT w.a, w.c,
                  CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                  CAST(SUM(CAST(round(round(1.0 / ln(d.degree), 4)
                       * 10000.0) AS HUGEINT)) AS DOUBLE) / 10000.0
                    AS aa_score
           FROM wedge w JOIN deg d ON d.doc_id = w.m
           GROUP BY w.a, w.c),
    pred AS (SELECT aa.a, aa.c, aa.common_neighbors, aa.aa_score
             FROM aa LEFT JOIN e ON e.da = aa.a AND e.db = aa.c
             WHERE e.da IS NULL)
    SELECT a AS doc_a, c AS doc_b, common_neighbors, aa_score
    FROM pred ORDER BY aa_score DESC, a, c LIMIT {_LP_TOPK}
    """


@query("graph_linkpred_adamic_adar", oracle=_adamic_adar_oracle())
def graph_linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the MinHash-LSH candidate graph:
    non-edges ranked by sum over common neighbors of 1/ln(degree) — the
    degree-damped refinement of graph_linkpred_common_neighbors (a
    shared neighbor that touches everything is weak evidence; a rare
    shared neighbor is strong).

    Plan: the same stored DEGREE-ORIENTED edge set, but the
    3-class wedge enumeration KEEPS the middle — whose degree already
    rides the oriented rows (dlo/dhi), so no degree join is needed at
    all on the Spark side (the orientation precomputed it).  Each
    middle's 1/ln(deg) is quantized round(4) BEFORE the decimal pair
    sum (the ln-quantize recipe; a wedge middle has >= 2 distinct
    neighbors, so ln(deg) >= ln 2 — the division is never degenerate)
    and carried as a bigint integer at 10^4 scale (cheaper map-side
    partials than a decimal sum, same rendered double),
    the ranking orders by the exact 4-decimal score with (a, c)
    tie-break, existing edges drop via anti-join, and the readout is a
    TakeOrdered.  Wedge-multiset equivalence with the oracle's
    both-directions spelling is the pinned _oriented_wedges property —
    keeping the middle does not change the argument (each wedge has one
    generation class)."""
    from eecs485_p4_mapreduce_spark.operators.dedup import (
        lsh_candidate_edges,
        lsh_oriented_edges,
    )

    edges = lsh_candidate_edges(spark, sf_dir)
    # aggregating consumer: widen per the _oriented_wedges rule
    oe = widen_scan(lsh_oriented_edges(spark, sf_dir), "lo", "hi")
    a, b = oe.alias("a"), oe.alias("b")
    ka_hi = F.struct(F.col("a.dhi"), F.col("a.hi"))
    kb_hi = F.struct(F.col("b.dhi"), F.col("b.hi"))
    ka_lo = F.struct(F.col("a.dlo"), F.col("a.lo"))
    kb_lo = F.struct(F.col("b.dlo"), F.col("b.lo"))
    # the middle's TRUE degree is already annotated on the oriented
    # edge (dlo/dhi) — carry it out of each wedge class
    oo = (
        a.join(b, F.col("a.lo") == F.col("b.lo"))
        .filter(ka_hi < kb_hi)
        .select(
            F.col("a.hi").alias("x"),
            F.col("b.hi").alias("y"),
            F.col("a.dlo").alias("mdeg"),
        )
    )
    io = a.join(b, F.col("a.hi") == F.col("b.lo")).select(
        F.col("a.lo").alias("x"),
        F.col("b.hi").alias("y"),
        F.col("a.dhi").alias("mdeg"),
    )
    ii = (
        a.join(b, F.col("a.hi") == F.col("b.hi"))
        .filter(ka_lo < kb_lo)
        .select(
            F.col("a.lo").alias("x"),
            F.col("b.lo").alias("y"),
            F.col("a.dhi").alias("mdeg"),
        )
    )
    wedge = (
        oo.unionAll(io)
        .unionAll(ii)
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("c"),
            "mdeg",
        )
    )
    aa = wedge.groupBy("a", "c").agg(
        F.count("*").cast("bigint").alias("common_neighbors"),
        # the 4-decimal contribution as an INTEGER (round of a product
        # within 2 ulp of k recovers exactly k in both engines): a
        # bigint partial sum is ~2x cheaper map-side than a decimal sum
        # over the wedge stream, and sum4/10^4 renders the identical
        # double the decimal sum did (k_total exact to 2^53)
        F.sum(
            F.expr(
                "cast(round(round(1.0 / ln(mdeg), 4) * 10000.0)"
                " as bigint)"
            )
        ).alias("s4"),
    ).select(
        "a",
        "c",
        "common_neighbors",
        (F.col("s4").cast("double") / 10000.0).alias("aa_score"),
    )
    pred = aa.join(
        edges,
        (aa["a"] == edges["da"]) & (aa["c"] == edges["db"]),
        "left_anti",
    )
    return (
        pred.orderBy(F.desc("aa_score"), "a", "c")
        .limit(_LP_TOPK)
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "common_neighbors",
            "aa_score",
        )
    )


def _modularity_oracle() -> str:
    from eecs485_p4_mapreduce_spark.functions.minhashfn import MINHASH_BANDED_DUCK

    sql = f"""{MINHASH_BANDED_DUCK},
    e AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    eu AS MATERIALIZED (
      SELECT da AS u, db AS v FROM e UNION ALL SELECT db, da FROM e),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM eu)"""
    for r in range(1, _LPA_ROUNDS + 1):
        sql += f""",
    votes{r} AS (
      SELECT e.u AS node, l.lbl, COUNT(*) AS c
      FROM eu e JOIN l{r - 1} l ON l.node = e.v
      GROUP BY e.u, l.lbl),
    best{r} AS (
      SELECT node, lbl,
             row_number() OVER (PARTITION BY node
                                ORDER BY c DESC, lbl ASC) AS rk
      FROM votes{r}),
    l{r} AS MATERIALIZED (SELECT node, lbl FROM best{r} WHERE rk = 1)"""
    sql += f""",
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM eu GROUP BY 1),
    dc AS (SELECT l.lbl, CAST(SUM(deg.deg) AS HUGEINT) AS d_c
           FROM deg JOIN l{_LPA_ROUNDS} l USING (node) GROUP BY 1),
    intra AS (SELECT CAST(COUNT(*) AS HUGEINT) AS sum_ec
              FROM e JOIN l{_LPA_ROUNDS} la ON la.node = e.da
                     JOIN l{_LPA_ROUNDS} lb ON lb.node = e.db
              WHERE la.lbl = lb.lbl),
    s AS (SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM e) AS m,
                 intra.sum_ec,
                 (SELECT CAST(SUM(d_c * d_c) AS HUGEINT) FROM dc)
                   AS sum_dc2,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_comm
          FROM intra)
    SELECT CAST(m AS BIGINT) AS m_edges, n_comm AS n_communities,
           CAST(sum_ec AS BIGINT) AS intra_edges,
           {hu_ratio_signed_sql("4 * s.m * s.sum_ec - s.sum_dc2",
                                "4 * s.m * s.m", 6)} AS modularity
    FROM s
    """
    return sql


@query("graph_modularity_lpa", oracle=_modularity_oracle())
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the graph_lpa_communities partition over
    the MinHash candidate graph — the one-number answer to "did label
    propagation find real structure or noise" (Q near 0: the partition
    is no better than random given the degree sequence; Q > ~0.3:
    strong community structure worth cluster-by-cluster dedup).

    Q = sum_c (e_c/m - (d_c/2m)^2) clears fractions to ONE exact
    integer rational (4m*sum(e_c) - sum(d_c^2)) / (4m^2) — intra-edge
    counts and community degree sums are exact BIGINTs off the shared
    stored edge set, rendered by the signed half-up recipe (Q can be
    negative).  The LPA rounds re-run the graph_lpa_communities loop
    verbatim (fixed 2 synchronous rounds, (count DESC, label ASC)
    plurality).  Scale shape: per round one neighbor join + per-node
    rank; the modularity epilogue is two label joins and a
    community-cardinality aggregate — headroom sum(d_c^2) <= 4m^2,
    render factor 2*4m^2*10^6 good to m ~ 1e15 edges."""
    from eecs485_p4_mapreduce_spark.operators.dedup import lsh_candidate_edges

    e = lsh_candidate_edges(spark, sf_dir)
    eu = e.select(F.col("da").alias("u"), F.col("db").alias("v")).unionAll(
        e.select(F.col("db").alias("u"), F.col("da").alias("v"))
    )
    labels = eu.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            eu.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        labels = pin(
            votes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        )
    deg = eu.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dc = deg.join(labels, "node").groupBy("lbl").agg(
        F.sum(F.expr("cast(deg as decimal(38,0))")).alias("d_c")
    )
    la = labels.select(F.col("node").alias("da"), F.col("lbl").alias("lba"))
    lb = labels.select(F.col("node").alias("db"), F.col("lbl").alias("lbb"))
    intra = (
        e.join(la, "da")
        .join(lb, "db")
        .filter(F.col("lba") == F.col("lbb"))
        .agg(F.count("*").cast("decimal(38,0)").alias("sum_ec"))
    )
    s = (
        e.agg(F.count("*").cast("decimal(38,0)").alias("m"))
        .crossJoin(F.broadcast(intra))
        .crossJoin(
            F.broadcast(
                dc.agg(
                    F.sum(F.expr("d_c * d_c")).alias("sum_dc2"),
                    F.count("*").cast("bigint").alias("n_comm"),
                )
            )
        )
    )
    return s.select(
        F.col("m").cast("bigint").alias("m_edges"),
        F.col("n_comm").alias("n_communities"),
        F.col("sum_ec").cast("bigint").alias("intra_edges"),
        hu_ratio_signed(
            "4 * m * sum_ec - sum_dc2", "4 * m * m", 6
        ).alias("modularity"),
    )
