"""Graph analytics on DataFrames (SURVEY.md §2.9 adjacents; connected
components already live in operators/components.py — this module covers
the join-algebra graph ops: edge projection and triangle counting).

The graph is the part co-purchase graph: nodes are parts, an edge links
two parts that appear in the same order. Basket sizes are small and
roughly constant as the corpus grows, so edge count scales linearly
with orders and average degree stays bounded — the realistic sparse
shape (unlike the supplier co-part projection, which is complete at
every SF).

Scale notes (100 TB): triangle enumeration is the textbook case where
join ORDER dwarfs join algorithm. Edges are oriented from the
lower-(degree, id) endpoint to the higher one, which turns the triangle
into exactly one wedge (a→b, b→c) plus one closure probe (a→c is an
edge?) per triangle and bounds per-node out-degree by O(√m) [PK:
Suri & Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the
Last Reducer"] — the wedge join stops being quadratic in the hub
degree, which is precisely the "last reducer" skew that kills the naive
a<b<c formulation on power-law graphs. Everything is equi-joins on
node ids: shuffle-partitionable, AQE-splittable, no cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nipd_spark.catalog import load
from nipd_spark.operators.materialize import spill_checkpoint
from nipd_spark.oracle import dround
from nipd_spark.registry import query
from nipd_spark.session import adaptive


def _basket_pairs(spark: SparkSession, sf_dir: str, symmetric: bool) -> DataFrame:
    """Co-purchase part pairs via per-order ``collect_set`` + codegen'd
    explode expansion (r13, guide §2.3/§2.4) — NOT deduped across
    orders: (u, v) with u != v when ``symmetric`` else u < v.

    Replaces the op-distinct + orderkey self-join edge build: that shape
    paid a fact exchange for the (orderkey, partkey) distinct, a second
    fact exchange for the join key, and sort-merge sorts of BOTH sides.
    This shape pays ONE exchange — groupBy(orderkey) with map-side
    partial ``collect_set`` (which also absorbs the op-level dedup) —
    and the pair expansion is two chained codegen'd Generate(explode)
    nodes over ≤ basket-sized arrays (baskets are small and bounded, so
    the in-row n² is a constant). The r6 probe that rejected in-row
    expansion used nested ``transform`` HOFs (interpreted struct
    construction, 67 s vs 26 s at 100×); Generate is codegen'd and
    measures 1.4× FASTER than the self-join on the same replica
    (157.7 → 113.4 s for the full symmetric deduped build+checkpoint,
    identical 239.2M edges and content hash).
    """
    li = load(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select("ps")
    )
    cond = (
        (F.col("u") != F.col("v")) if symmetric else (F.col("u") < F.col("v"))
    )
    return (
        baskets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(cond)
    )


def _copurchase_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric deduped co-purchase ADJACENCY (u, vs: array<partkey>),
    DISK_ONLY-checkpointed (r13, guide §2.3 "shuffle keys and metadata
    instead of payloads" applied to the edge table itself).

    Dedup rides the ``collect_set`` aggregate — no separate pair
    exchange + dropDuplicates pass — and the checkpoint holds O(nodes)
    array rows instead of O(edges) pair rows (~2M vs 239M at the 100×
    replica), so every downstream consumer (PageRank iterations, BFS
    supersteps, label propagation) joins a NODE-sized relation and
    explodes edge-sized data map-side AFTER the join. The groupBy(u)
    exchange uses the session shuffle-partition count, so iteration
    aggregates keyed the same way co-partition against the checkpoint
    (the old explicit repartition(defaultParallelism) stopped matching
    once autosize derived the count from data size — every g2 iteration
    re-shuffled the 239M-edge side, measured 254 s of iteration time).
    """
    pairs = _basket_pairs(spark, sf_dir, symmetric=True)
    return spill_checkpoint(
        pairs.groupBy("u").agg(F.collect_set("v").alias("vs"))
    )


@query(
    "g1_triangle_count",
    sql="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM o o1 JOIN o o2 ON o1.t = o2.s
                JOIN o o3 ON o3.s = o1.s AND o3.t = o2.t
    ),
    stats AS (
      SELECT count(*) AS n_nodes, sum(d * (d - 1) / 2) AS n_wedges FROM deg
    ),
    ecnt AS (SELECT count(*) AS n_edges FROM e)
    SELECT stats.n_nodes, ecnt.n_edges, stats.n_wedges, tri.n_triangles
    FROM stats, ecnt, tri
    """,
    tags=("J11", "J1", "A2", "P7"),
)
def g1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + wedge census of the part co-purchase graph via
    degree-ordered wedge enumeration (see module docstring for the
    orientation argument).

    Output is one row: nodes, edges, open wedges (Σ C(deg,2)), and
    closed triangles — the ingredients of the global clustering
    coefficient 3·Δ/wedges.
    """
    e = (
        # r13: oriented pair build via per-order collect_set + codegen'd
        # explode (_basket_pairs) — same distinct u<v edge SET as the
        # old op-distinct + orderkey self-join, one fact exchange
        # instead of two plus both SMJ sorts.
        _basket_pairs(spark, sf_dir, symmetric=False)
        .distinct()
        # e feeds deg, o and ecnt, and o feeds three wedge-join legs;
        # column pruning specializes each consumer's subtree so
        # ReusedExchange never fires and the co-purchase pair build would
        # recompute ~6x (measured: 20 s at sf0.1). Materialize once on
        # executors — at 100 TB this is the standard cut for any
        # multi-consumer subplan; DISK_ONLY keeps the fact-sized blocks
        # out of the unified memory pool (operators/materialize.py).
        .transform(spill_checkpoint)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")
    first_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(first_is_u, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(first_is_u, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .transform(spill_checkpoint)  # three wedge-join consumers
    )
    o1 = o.select(F.col("s").alias("a"), F.col("t").alias("b"))
    o2 = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    o3 = o.select(F.col("s").alias("a"), F.col("t").alias("c"))
    # r13 (guide §3.1): the wedge stream (o1⋈o2 output — Σ C(outdeg,2)
    # rows, ~2B at the 16× replica) is the probe side of the closure
    # join; sort-merge SORTS it by (a, c) before matching, which
    # dominated the whole query (measured 158 → 44 s closure time with
    # shuffle_hash on both edge-list sides, identical count). The hash
    # build sides are the O(edges) oriented list split across the
    # shuffle partitions (~10-30 MB per partition under autosize) —
    # bounded as long as partition count tracks data size. Static
    # sessions only (session.adaptive): at cluster scale SMJ's graceful
    # sort-spill is the safe default and AQE's
    # maxShuffledHashJoinLocalMapThreshold makes the same rewrite when
    # per-partition sizes allow.
    if not adaptive(spark):
        o2 = o2.hint("shuffle_hash")
        o3 = o3.hint("shuffle_hash")
    tri = (
        o1.join(o2, "b")
        .join(o3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"),
    )
    ecnt = e.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(ecnt)  # three 1-row aggregates
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


_PR_EDGE_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    deg AS (SELECT u AS node, count(*) AS d FROM e GROUP BY u)
"""


@query(
    "g2_pagerank",
    sql=f"""
    WITH {_PR_EDGE_SQL},
    r0 AS (SELECT node, 1.0 AS r, d FROM deg),
    r1 AS (
      SELECT deg.node, 0.15 + 0.85 * sum(r0.r / r0.d) AS r, deg.d
      FROM e JOIN r0 ON e.u = r0.node JOIN deg ON e.v = deg.node
      GROUP BY deg.node, deg.d
    ),
    r2 AS (
      SELECT deg.node, 0.15 + 0.85 * sum(r1.r / r1.d) AS r, deg.d
      FROM e JOIN r1 ON e.u = r1.node JOIN deg ON e.v = deg.node
      GROUP BY deg.node, deg.d
    ),
    r3 AS (
      SELECT deg.node, 0.15 + 0.85 * sum(r2.r / r2.d) AS r
      FROM e JOIN r2 ON e.u = r2.node JOIN deg ON e.v = deg.node
      GROUP BY deg.node
    )
    SELECT node, {dround("r", 6)} AS rank
    FROM r3
    ORDER BY rank DESC, node ASC
    LIMIT 20
    """,
    tags=("J1", "A1", "W3"),
)
def g2_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (d=0.85, init 1.0) on the symmetrized part
    co-purchase graph — Pregel-on-DataFrames: each iteration is one
    equi-join of the rank vector onto the edge list plus one grouped
    sum, unrolled here so the whole computation is a single lazy plan
    the oracle can mirror CTE-for-CTE. The undirected graph has no
    dangling nodes (every node has degree ≥ 1), so total mass is
    conserved and ranks converge toward degree-proportionality.

    Scale notes: the rank vector is O(nodes) — orders of magnitude
    smaller than the edge list — and since r13 the edge table itself is
    stored as the O(nodes) ADJACENCY list (_copurchase_adjacency,
    checkpointed ONCE: without it each unrolled iteration re-derives
    the build, multiplying the dominant cost by the iteration count),
    so at 100 TB each iteration joins two node-sized relations
    co-partitioned on the same key and the edge-sized stream exists
    only map-side between the explode and the partial sum. For deep
    iteration counts, checkpoint the rank vector every few rounds too —
    at 3 rounds the DAG stays shallow. Ranks are rounded at 6 dp only
    on output (order-dependent double sums; oracle.py discipline) —
    iteration-internal values stay full precision, and a 1-ulp
    cross-engine wobble cannot survive the 0.85³ contraction at 6 dp.
    """
    # r13 edge build: per-order collect_set + codegen'd explode pairs,
    # aggregated straight into the symmetric deduped ADJACENCY list —
    # see _basket_pairs/_copurchase_adjacency for the full argument and
    # the measured numbers (the r6 probe-rejection applied to the
    # interpreted-HOF expansion, not to Generate). DISK_ONLY + EAGER
    # checkpoint as before: the adjacency is consumed by deg + 3
    # iterations, and eager materialization runs as its own job instead
    # of contending with the iteration pipelines for execution memory.
    adj = _copurchase_adjacency(spark, sf_dir)
    # out-degree = |distinct neighbors| — a map over O(nodes) array
    # rows, where the pair-list shape paid a 239M-row groupBy
    deg = adj.select(F.col("u").alias("node"), F.size("vs").alias("d"))

    ranks = deg.select("node", F.lit(1.0).alias("r"), "d")
    for _ in range(3):
        # join the O(nodes) rank vector onto the O(nodes) adjacency and
        # only THEN explode to edge granularity: the per-iteration join
        # streams ~2M array rows instead of 239M pair rows, and the
        # exploded (node, contribution) stream collapses map-side in
        # the partial sum before its exchange (guide §2.3 "aggregate
        # before you shuffle")
        contrib = adj.join(
            ranks.select(
                F.col("node").alias("u"), (F.col("r") / F.col("d")).alias("c")
            ),
            "u",
        ).select(F.explode("vs").alias("node"), "c")
        ranks = (
            contrib.groupBy("node")
            .agg((F.lit(0.15) + 0.85 * F.sum("c")).alias("r"))
            .join(deg, "node")
            .select("node", "r", "d")
        )
    return (
        ranks.select("node", F.round("r", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
    )


@query(
    "g3_connected_components",
    sql="""
    WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    -- Two plain label-propagation rounds CONTRACT the graph before the
    -- recursive walk: each round is component-preserving (every node
    -- maps to a node of its own component; the component min maps to
    -- itself), and on this dense co-purchase graph it collapses the
    -- giant component's walk state space (node,lbl pairs) ~50x
    -- (measured sf0.01: 25 s -> 0.5 s, identical output).
    r1 AS (SELECT e.u AS node, least(e.u, min(e.v)) AS lbl FROM e GROUP BY e.u),
    e1 AS (SELECT DISTINCT a.lbl AS u, b.lbl AS v
           FROM e JOIN r1 a ON a.node = e.u JOIN r1 b ON b.node = e.v
           WHERE a.lbl <> b.lbl),
    r2 AS (SELECT n.u AS node, least(n.u, min(n.v)) AS lbl FROM e1 n GROUP BY n.u),
    e2 AS (SELECT DISTINCT a.lbl AS u, b.lbl AS v
           FROM e1 JOIN r2 a ON a.node = e1.u JOIN r2 b ON b.node = e1.v
           WHERE a.lbl <> b.lbl),
    walk(node, lbl) AS (
      SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM e2)
      UNION
      SELECT e2.v AS node, walk.lbl
      FROM walk JOIN e2 ON e2.u = walk.node
      WHERE walk.lbl < e2.v
    ),
    comp2 AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
    comp AS (
      SELECT r1.node,
             coalesce(c.component, coalesce(r2.lbl, r1.lbl)) AS component
      FROM r1
      LEFT JOIN r2 ON r2.node = r1.lbl
      LEFT JOIN comp2 c ON c.node = coalesce(r2.lbl, r1.lbl)
    )
    SELECT component,
           count(*) AS n_nodes,
           min(node) AS min_node,
           max(node) AS max_node
    FROM comp
    GROUP BY component
    ORDER BY n_nodes DESC, component ASC
    LIMIT 20
    """,
    tags=("J1", "A1", "U2"),
)
def g3_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components of the co-purchase graph as a
    standalone result (operators/components.py min-label propagation —
    the same operator the dedup clustering l16/l16b consumes): per-
    component size census, largest first. The DuckDB twin reaches the
    identical min-label fixpoint through a recursive CTE that walks
    labels downhill (a label walks to a neighbor only if smaller), so
    two utterly different fixpoint engines must agree on every
    component id and size — a strong cross-check for iterative
    DataFrame algorithms beyond what single-pass oracles exercise.
    """
    # r13 edge build: the symmetric deduped adjacency replaces the
    # basket self-join + the operator's own pair distinct + pair
    # checkpoint (_copurchase_adjacency builds the same edge SET the
    # operator's preamble would have, already symmetrized, deduped and
    # checkpointed — and every propagation round joins node-sized
    # relations instead of probing the 239M-row pair list; see
    # connected_components_adjacency). Identical fixpoint and output.
    from nipd_spark.operators.components import connected_components_adjacency

    adj = _copurchase_adjacency(spark, sf_dir)
    comp = connected_components_adjacency(adj, "u", "vs")
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(F.col("n_nodes").desc(), F.col("component").asc())
        .limit(20)
    )


@query(
    "g4_bfs_hops",
    sql="""
    WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    src AS (SELECT min(u) AS s FROM und),
    walk(node, d) AS (
      SELECT s, 0 FROM src
      UNION
      SELECT e.v, walk.d + 1
      FROM walk JOIN e ON e.u = walk.node
      WHERE walk.d < 4
    ),
    dist AS (SELECT node, min(d) AS hop FROM walk GROUP BY node)
    SELECT CAST(hop AS BIGINT) AS hop,
           count(*) AS n_nodes,
           min(node) AS min_node,
           max(node) AS max_node
    FROM dist GROUP BY hop ORDER BY hop
    """,
    tags=("J1", "A1", "U1"),
)
def g4_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the part co-purchase graph: hop-distance
    census (node count, min/max node per hop) within 4 hops of the
    smallest part id — the "related items within k degrees"
    neighborhood primitive behind recommendation candidate generation
    and graph-bounded blocking for dedup. The DuckDB twin reaches the
    same distances through a recursive CTE whose UNION dedup bounds the
    walk state at (node, d) pairs, so two different frontier engines
    must agree on every hop bucket — the distance-label complement of
    g3's component-label cross-check.

    Plan shape for 100 TB: the symmetric deduped edge table is built
    ONCE as the O(nodes) adjacency list and DISK_ONLY-checkpointed
    (r13, the g2 discipline — _copurchase_adjacency), so each of the
    ≤ 4 supersteps shuffles only the O(frontier) node set: frontier ⋈
    adjacency (equi on node id, node-sized probe) → explode → distinct
    → anti-join against visited. Superstep count is a constant, not
    data-dependent; the visited/distance vector is O(nodes), never
    edge-sized. The driver holds only the 1-row source id.
    """
    # r13 edge build: symmetric deduped adjacency via per-order
    # collect_set + codegen'd explode (_copurchase_adjacency) — the
    # basket self-join + pair-list checkpoint this replaced was the
    # dominant cost of the whole query (229.8 of 231.0 s at 100×)
    adj = _copurchase_adjacency(spark, sf_dir)
    # smallest graph node, read from the ALREADY-MATERIALIZED checkpoint
    # (adj's u domain == the symmetric edge list's u domain, so the min
    # is unchanged; re-deriving it from the raw pairs would rebuild the
    # dominant stage a second time)
    src = adj.agg(F.min("u").alias("s")).collect()[0].s
    dist = spark.createDataFrame([(src, 0)], "node long, hop long")
    frontier = dist.select("node")
    for d in range(1, 5):
        nxt = (
            adj.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.explode("vs").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(d).cast("long"))
        )
        # O(nodes) label vector: materialize so superstep d+1 doesn't
        # re-run the whole lineage (localCheckpoint, in-memory scale)
        dist = dist.union(nxt).localCheckpoint()
        frontier = dist.filter(F.col("hop") == d).select("node")
    return (
        dist.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("hop")
    )
