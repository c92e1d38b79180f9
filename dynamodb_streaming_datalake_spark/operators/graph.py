"""Iterative graph analytics: distributed PageRank over a real graph
derived from the lake's own tables.

Graph: the customer <-> supplier trade graph — an edge for every
distinct (customer, supplier) pair connected through orders x lineitem,
materialized in BOTH directions so every node has out-degree >= 1 and
the rank flow is non-trivial (a one-direction bipartite graph makes
every supplier a dangling node and the iteration degenerate).

Numerics: ranks are FIXED-POINT integers (parts per PR_SCALE). Floating
point is the classic cross-engine trap here — per-node in-neighbor sums
are order-dependent in IEEE 754, so two engines (or two partitionings
of the same engine!) can disagree in the last ulp after five
iterations. Integer fixed point makes every iteration EXACT and
portable: contrib(u) = rank(u) div outdeg(u) (BIGINT floor division),
rank'(v) = base + 85 * sum(contrib over in-neighbors(v)) div 100, with
base = 15 * PR_SCALE div (100 * N). The deliberate floor-division mass
leak is part of the algorithm spec and identical on both engines.

Scale: this is the standard SQL-engine PageRank shape — an edges table
joined to the current rank vector on src, aggregated by dst, K times.
Each iteration is one shuffle on the edge key; the rank vector is
O(|V|) and the join is O(|E|). At 100 TB you'd co-partition edges and
ranks on node id once (bucketing) so the per-iteration join reuses the
same partitioning instead of re-shuffling — the loop below expresses
exactly that join, so AQE/bucketing can supply the physical co-location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamodb_streaming_datalake_spark.cache import memo
from dynamodb_streaming_datalake_spark.registry import format_doc as _fmt
from dynamodb_streaming_datalake_spark.registry import query
from dynamodb_streaming_datalake_spark.sources.readers import read_table

PR_SCALE = 10**12      # fixed-point denominator (rank of 1.0)
PR_DAMP_NUM = 85       # damping 0.85 as an integer ratio
PR_DAMP_DEN = 100
PR_ITERS = 5
PR_TOP = 30


#: rank/label vectors at or below this many nodes broadcast into the
#: per-iteration join. The crossover is NOT the broadcast size ceiling:
#: each iteration's broadcast is a separate driver job (collect the
#: vector, re-ship it), so the win exists only in the small-graph
#: regime where per-iteration task scheduling dominates — measured at
#: sf0.1 (16k nodes): 7.3 s -> 4.3 s with broadcast; at sf1 (160k
#: nodes) the shuffle join is already ~10% FASTER than broadcasting
#: (20.5 s vs 22.7 s medians-of-3), because the collect/re-broadcast
#: serialization outgrows the saved exchange. Above the threshold the
#: shuffle join is also the co-partitionable at-scale shape.
PR_BROADCAST_MAX_NODES = 100_000


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    *,
    edges_w: DataFrame | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank over an ``(src, dst)`` string-keyed edge
    table. Returns ``(node, rank_fp)`` for every node with at least one
    out-edge. Pure DataFrame loop — each iteration is one join + one
    aggregate, the distributed shape.

    ``edges_w`` / ``n_nodes`` let a caller supply the pinned
    (edge + outdeg) table and the |V| probe from a per-dataset cache
    (q_pagerank does, via ``_edge_memo``) so repeated invocations skip
    the per-call materialization + collect."""
    if edges_w is None:
        # materialize the (edge + outdeg) table once: every iteration
        # references it, and without this the edge-build lineage (the
        # orders x lineitem join + distinct) re-executes K+2 times — the
        # bench showed exactly that as a 5x slowdown. localCheckpoint is
        # the same bounded-materialization idiom the simhash band table
        # uses; on a cluster this is a persisted shuffle output, not a
        # driver collect.
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        # fold outdeg onto each edge once; every iteration then needs
        # only ONE join (edges_w x ranks on src) + one aggregate — the
        # minimal per-iteration shuffle count for table-form PageRank
        edges_w = edges.join(deg, "src").localCheckpoint()
    nodes = edges_w.select(F.col("src").alias("node")).distinct()
    if n_nodes is None:
        # the |V| probe is a 1-scalar collect off an aggregate, not a
        # data collect
        n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes")).collect()[0][
            "n_nodes"
        ]
    # size dispatch (same idiom as connected components): the rank
    # vector is O(|V|) — when it fits a broadcast, ship IT to the
    # checkpointed edges each round so the EDGE table never moves and
    # each iteration costs exactly one shuffle (the dst aggregate)
    # instead of two (join repartition + aggregate). n_nodes is a
    # driver scalar, so the teleport base folds into the per-iteration
    # expression as a constant (round 18: drops the crossJoin + the
    # carried n_nodes column + its FIRST aggregate from every
    # iteration; the integer arithmetic is unchanged).
    small = n_nodes <= PR_BROADCAST_MAX_NODES
    nn_lit = f"CAST({n_nodes} AS BIGINT)"
    ranks = nodes.select(
        "node",
        F.expr(f"CAST({PR_SCALE} AS BIGINT) div {nn_lit}").alias("rank_fp"),
    )
    for _ in range(iters):
        rhs = F.broadcast(ranks) if small else ranks
        gathered = (
            edges_w.join(rhs, edges_w["src"] == rhs["node"])
            .groupBy(F.col("dst"))
            .agg(F.sum(F.expr("rank_fp div outdeg")).alias("s"))
        )
        ranks = gathered.select(
            F.col("dst").alias("node"),
            F.expr(
                f"CAST({PR_DAMP_DEN - PR_DAMP_NUM} AS BIGINT) * {PR_SCALE}"
                f" div ({PR_DAMP_DEN} * {nn_lit})"
                f" + CAST({PR_DAMP_NUM} AS BIGINT) * s div {PR_DAMP_DEN}"
            ).alias("rank_fp"),
        )
    return ranks.select("node", "rank_fp")


def _edge_memo(kind: str, spark: SparkSession, sf_dir: str, build):
    """Per-dataset trade-graph artifact, memoized on the stamps of both
    edge inputs and bound to ``spark`` (the frames are checkpointed in
    that session). Everything cached this way is O(|V|+|E|) and
    deterministic in the dataset: the edge table itself, pagerank's
    pinned (edge + outdeg) table, the |V| probe (one 1-row collect per
    dataset instead of one per invocation), BFS's pinned initial
    distance vector, HITS' forward half and its hub count."""
    inputs = (f"{sf_dir}/orders.parquet", f"{sf_dir}/lineitem.parquet")
    return memo(kind, inputs, build, spark)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer<->supplier pairs through orders x lineitem,
    in both directions, with typed node keys ('c<id>' / 's<id>').
    Returns an eagerly-pinned frame, cached per dataset — every
    consumer loops over it, so a registry sweep builds the pin once,
    not once per graph query."""

    def build() -> DataFrame:
        orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        pairs = (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .select("o_custkey", "l_suppkey")
            .distinct()
        )
        c = F.concat(F.lit("c"), F.col("o_custkey"))
        s = F.concat(F.lit("s"), F.col("l_suppkey"))
        fwd = pairs.select(c.alias("src"), s.alias("dst"))
        rev = pairs.select(s.alias("src"), c.alias("dst"))
        return fwd.unionAll(rev).localCheckpoint(eager=True)

    return _edge_memo("trade_edges", spark, sf_dir, build)


def _n_nodes(spark: SparkSession, sf_dir: str) -> int:
    """|V| of the trade graph (distinct src of the pinned edge table) —
    the scalar every graph query's broadcast dispatch reads."""
    return _edge_memo(
        "n_nodes",
        spark,
        sf_dir,
        lambda: _trade_edges(spark, sf_dir).select("src").distinct().count(),
    )


_SQL_EDGES = """
    pairs AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT 'c' || CAST(ck AS VARCHAR) AS src,
               's' || CAST(sk AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes)
"""


def _sql_iter(k: int) -> str:
    """One unrolled oracle iteration: r{k} -> r{k+1}."""
    return f"""
    r{k + 1} AS (
        -- SUM(BIGINT) is HUGEINT in DuckDB (floats in pandas) — cast
        -- back down; total rank mass is ~PR_SCALE so BIGINT is exact
        SELECT e.dst AS node,
               CAST(({100 - PR_DAMP_NUM} * CAST({PR_SCALE} AS BIGINT))
                      // ({PR_DAMP_DEN} * ANY_VALUE(nn.n_nodes))
                    + ({PR_DAMP_NUM} * SUM(r{k}.rank_fp // deg.outdeg))
                      // {PR_DAMP_DEN} AS BIGINT) AS rank_fp
        FROM edges e
        JOIN r{k} ON r{k}.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst
    )"""


_SQL_ITERS = ",".join(_sql_iter(k) for k in range(PR_ITERS))


@query(
    "q_pagerank",
    oracle=f"""
    WITH {_SQL_EDGES},
    r0 AS (
        SELECT node,
               CAST(CAST({PR_SCALE} AS BIGINT) // nn.n_nodes AS BIGINT)
                 AS rank_fp
        FROM nodes CROSS JOIN nn
    ),
    {_SQL_ITERS}
    SELECT node, rank_fp
    FROM r{PR_ITERS}
    ORDER BY rank_fp DESC, node
    LIMIT {PR_TOP}
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank ({PR_ITERS} fixed-point iterations, damping
    0.85) over the customer<->supplier trade graph; top-{PR_TOP} nodes.
    The oracle unrolls the exact same integer recurrence as CTEs, so a
    single off-by-one in any iteration's join or division breaks the
    hash — this is the repo's iterative-algorithm representative (the
    family SURVEY.md §2 lists as non-SQL-native), proven value-exact
    rather than rows-only."""
    edges = _trade_edges(spark, sf_dir)

    def weighted() -> DataFrame:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        return edges.join(deg, "src").localCheckpoint()

    edges_w = _edge_memo("edges_w", spark, sf_dir, weighted)
    ranks = pagerank(edges, edges_w=edges_w, n_nodes=_n_nodes(spark, sf_dir))
    return (
        ranks.orderBy(F.col("rank_fp").desc(), "node")
        .limit(PR_TOP)
        .select("node", "rank_fp")
    )



_fmt(q_pagerank, PR_ITERS=PR_ITERS, PR_TOP=PR_TOP)


# ---------------------------------------------------------------------------
# triangle counting (round 7)
# ---------------------------------------------------------------------------

TRI_TOP = 20
#: support threshold: parts must co-occur in at least this many orders
#: to form an edge. This is the market-basket support prune, and it is
#: also what makes triangle enumeration scale-honest: the RAW
#: co-occurrence graph of a basket dataset is near-complete on its hub
#: side (probed at sf0.1: the 1000-supplier graph holds 454k of 500k
#: possible edges, 274M wedges -> 42s; the support-2 part graph holds
#: 3.9k edges, 5.3k wedges), so counting triangles on it is Theta(n^3)
#: no matter the algorithm — the prune, mirrored in the oracle, is the
#: operator's declared semantics, not a hidden cap.
TRI_MIN_COOCCUR = 2


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """All (u, v) part pairs with u < v inside one order, at the
    lineitem-self-join's multiplicity, expanded IN-ROW from a single
    (order -> parts array) aggregate — the round-17 posting shape
    (guide §2.4: remove the shuffle outright). Equivalence to the
    ``a JOIN b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <
    b.l_partkey`` build the oracle states: the join emits one row per
    unordered row pair within an order whose part keys differ, which
    is exactly the multiset {(x, y) : x in parts, y in parts, x < y}
    of the collected array — (#p * #q) rows per order for each p < q
    on either path. Downstream consumers only group-count the pairs,
    so collect_list's row-order nondeterminism is invisible.

    Scale: one shuffle on the order key replaces the self-join's
    exchange, and the per-row expansion is bounded by the order's
    line-item fan-out squared — the same bound the self-join already
    carried (each order contributed the identical pair count through
    the join)."""
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("parts")
    )
    pair_structs = F.expr(
        """
        flatten(transform(parts, x ->
            transform(filter(parts, y -> x < y), y ->
                struct(x AS u, y AS v))))
        """
    )
    return baskets.select(F.explode(pair_structs).alias("p")).select(
        "p.u", "p.v"
    )


@query(
    "q_triangle_count",
    oracle=f"""
    WITH co AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
    ),
    tri AS (
        SELECT e1.u AS u, e1.v AS v, e2.v AS w
        FROM co e1
        JOIN co e2 ON e1.v = e2.u
        JOIN co e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    members AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ),
    per_node AS (
        SELECT node, COUNT(*) AS n_triangles FROM members GROUP BY node
    ),
    total AS (SELECT COUNT(*) AS total_triangles FROM tri)
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(total_triangles AS BIGINT) AS total_triangles
    FROM per_node CROSS JOIN total
    ORDER BY n_triangles DESC, node
    LIMIT {TRI_TOP}
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the support-pruned part co-purchase
    graph (parts adjacent when they appear together in at least
    {TRI_MIN_COOCCUR} orders), by the classic ordered-edge enumeration:
    every undirected edge is kept once as (u < v), wedges come from the
    e1.v = e2.u self-join — each triangle u<v<w generated exactly once
    — and closed by a third equi-join. Returns the top-{TRI_TOP} parts
    by triangle participation with the global count alongside.

    Scale: the support prune is load-bearing (see TRI_MIN_COOCCUR) —
    it turns the near-complete raw co-occurrence graph into a sparse
    one, after which wedge enumeration is bounded by the ordered
    graph's squared out-degrees (the Suri & Vassilvitskii MapReduce
    bound, re-expressed as two DataFrame equi-joins); per-order edge
    generation stays bounded by the order's line-item fan-out squared.
    All joins are equi-joins on node keys, so bucketing the edge table
    by u co-locates them at 100 TB."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    co = (
        # round 17: in-row pair expansion (copurchase_pairs) replaces
        # the lineitem x lineitem self-join — identical pair multiset,
        # one order-key shuffle instead of the join exchange
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("wgt"))
        .where(F.col("wgt") >= TRI_MIN_COOCCUR)
        .select("u", "v")
        # three self-join consumers: pin the pruned edge table once
        # (the pagerank idiom) instead of re-running the pair build
        # per consumer
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = co.alias("e1"), co.alias("e2"), co.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("u"),
            F.col("e1.v").alias("v"),
            F.col("e2.v").alias("w"),
        )
    )
    # round 17: one in-row explode replaces the three-way unionAll —
    # the tri subtree (two joins) runs once for the membership count
    # instead of three times (guide §2.4)
    members = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    per_node = members.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    total = tri.agg(F.count(F.lit(1)).alias("total_triangles"))
    return (
        per_node.crossJoin(F.broadcast(total))
        .select(
            F.col("node").cast("bigint").alias("part_key"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.col("total_triangles").cast("bigint").alias("total_triangles"),
        )
        .orderBy(F.col("n_triangles").desc(), "part_key")
        .limit(TRI_TOP)
    )


# ---------------------------------------------------------------------------
# synchronized label propagation (round 8)
# ---------------------------------------------------------------------------

#: synchronized propagation rounds; label(v) after K rounds is the min
#: node id within graph distance K of v
LP_ITERS = 3
LP_TOP = 20


def _sql_lp_iter(k: int) -> str:
    return f"""
    l{k + 1} AS (
        SELECT l.node,
               LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
        FROM l{k} l
        LEFT JOIN edges e ON e.dst = l.node
        LEFT JOIN l{k} nl ON nl.node = e.src
        GROUP BY l.node, l.label
    )"""


@query(
    "q_label_propagation",
    oracle=f"""
    WITH {_SQL_EDGES},
    l0 AS (SELECT node, node AS label FROM nodes),
    {",".join(_sql_lp_iter(k) for k in range(LP_ITERS))}
    SELECT label AS community, COUNT(*) AS n_members
    FROM l{LP_ITERS}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT {LP_TOP}
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronized min-label propagation over the customer<->supplier
    trade graph: every node starts labeled with its own id, and each of
    the {LP_ITERS} rounds replaces a node's label with the minimum over
    itself and its in-neighbors — so the final label is exactly the
    lexicographically smallest node id within graph distance
    {LP_ITERS}. Returns the top-{LP_TOP} label groups by size.

    This is the bounded-round form of the standard label-propagation
    community pass (run to convergence it degenerates to connected
    components — the distributed path-halving CC in
    ``dedup.py:cluster_components`` covers that endpoint); the
    fixed round count keeps the result deterministic AND lets the
    oracle unroll the identical recurrence as {LP_ITERS} CTE layers, so
    any drift in a single round's join or tie-break breaks the hash.

    Scale: one equi-join + one MIN aggregate per round over a
    localCheckpoint-pinned edge table — the pagerank loop shape; MIN is
    order-independent so the result is partitioning-invariant, and
    bucketing edges+labels on node id makes every round co-located.
    Like pagerank, the O(|V|) label vector broadcasts into both
    per-round joins when it fits (size dispatch at
    {PR_BROADCAST_MAX_NODES} nodes via the same 1-scalar probe), so
    the edge table never moves and each round costs exactly one
    shuffle; larger graphs keep the shuffle joins for bucketed
    co-location."""
    edges = _trade_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    small = _n_nodes(spark, sf_dir) <= PR_BROADCAST_MAX_NODES
    bc = F.broadcast if small else (lambda df: df)
    for _ in range(LP_ITERS):
        nbr = (
            edges.join(
                bc(
                    labels.select(
                        F.col("node").alias("src"), F.col("label").alias("nl")
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("nl").alias("nbr_min"))
        )
        labels = (
            labels.join(bc(nbr), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", "label")
                ).alias("label"),
            )
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(LP_TOP)
    )


_fmt(q_label_propagation, LP_ITERS=LP_ITERS, LP_TOP=LP_TOP,
     PR_BROADCAST_MAX_NODES=PR_BROADCAST_MAX_NODES)


_fmt(
    q_triangle_count,
    TRI_TOP=TRI_TOP,
    TRI_MIN_COOCCUR=TRI_MIN_COOCCUR,
)


# ---------------------------------------------------------------------------
# item-item co-occurrence similarity (round 8)
# ---------------------------------------------------------------------------
# The collaborative-filtering prep step: score part pairs by cosine
# over order co-occurrence, c_uv / sqrt(n_u * n_v) — the same
# support-pruned co-purchase pairs the triangle counter builds, kept
# weighted and normalized by per-item order frequency. sqrt is
# IEEE-correctly-rounded, so one fixed-shape expression is hash-exact.

SIM_TOP = 30


@query(
    "q_item_similarity",
    oracle=f"""
    WITH co AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS c
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
    ),
    freq AS (
        SELECT l_partkey AS k, COUNT(DISTINCT l_orderkey) AS n
        FROM lineitem GROUP BY 1
    )
    SELECT co.u AS part_a, co.v AS part_b,
           CAST(co.c AS BIGINT) AS n_cooccur,
           round(co.c / (sqrt(CAST(fa.n AS DOUBLE))
                         * sqrt(CAST(fb.n AS DOUBLE))), 6) AS cosine
    FROM co JOIN freq fa ON fa.k = co.u JOIN freq fb ON fb.k = co.v
    ORDER BY round(co.c / (sqrt(CAST(fa.n AS DOUBLE))
                           * sqrt(CAST(fb.n AS DOUBLE))), 6) DESC,
             co.u, co.v
    LIMIT {SIM_TOP}
    """,
)
def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over order co-occurrence — the
    classic neighborhood-method prep for 'customers also bought':
    support-pruned co-purchase pairs (the triangle counter's edge
    build, weights kept) normalized by each part's order frequency,
    top-{SIM_TOP} by rounded cosine (rank-stabilized before the
    tie-break, the repo's cross-engine ulp guard).

    Scale: pair generation is bounded by per-order line-item fan-out
    squared plus the support prune (see TRI_MIN_COOCCUR); frequencies
    are one aggregate; the normalizing joins are equi-joins on the
    part key against a |parts|-sized table."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    co = (
        # round 17: in-row pair expansion (copurchase_pairs) replaces
        # the lineitem x lineitem self-join — identical pair multiset,
        # one order-key shuffle instead of the join exchange
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= TRI_MIN_COOCCUR)
    )
    freq = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    cos = F.col("c") / (
        F.sqrt(F.col("fa.n").cast("double"))
        * F.sqrt(F.col("fb.n").cast("double"))
    )
    return (
        co.join(freq.alias("fa"), F.col("u") == F.col("fa.k"))
        .join(freq.alias("fb"), F.col("v") == F.col("fb.k"))
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("c").cast("bigint").alias("n_cooccur"),
            F.round(cos, 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "part_a", "part_b")
        .limit(SIM_TOP)
    )


_fmt(q_item_similarity, SIM_TOP=SIM_TOP)


# ---------------------------------------------------------------------------
# bounded k-core peel (round 9)
# ---------------------------------------------------------------------------
# The graph-curation filter: repeatedly remove nodes of degree < k and
# their incident edges — survivors form (an over-approximation
# converging to) the k-core, the densely connected region spam/noise
# filtering keeps. A FIXED number of synchronized peel rounds keeps
# the operator deterministic and lets the oracle unroll the identical
# recurrence as CTE layers (the pagerank/label-propagation pattern);
# run to fixpoint it is the exact k-core.

KCORE_K = 4
KCORE_ROUNDS = 4
KCORE_TOP = 20


def _sql_kcore_round(r: int) -> str:
    """One unrolled peel: edges{r} -> edges{r+1} (keep only edges whose
    BOTH endpoints had degree >= k in edges{r})."""
    return f"""
    deg{r} AS (
        SELECT src, COUNT(*) AS d FROM edges{r} GROUP BY src
    ),
    keep{r} AS (SELECT src AS node FROM deg{r} WHERE d >= {KCORE_K}),
    edges{r + 1} AS (
        SELECT e.src, e.dst FROM edges{r} e
        JOIN keep{r} a ON a.node = e.src
        JOIN keep{r} b ON b.node = e.dst
    )"""


@query(
    "q_kcore",
    oracle=f"""
    WITH {_SQL_EDGES},
    edges0 AS (SELECT src, dst FROM edges),
    {",".join(_sql_kcore_round(r) for r in range(KCORE_ROUNDS))},
    fdeg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM edges{KCORE_ROUNDS} GROUP BY src
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
               CAST(COALESCE(SUM(degree), 0) AS BIGINT) AS n_core_edges
        FROM fdeg
    )
    SELECT f.node, f.degree, t.n_core_nodes, t.n_core_edges
    FROM fdeg f, tot t
    ORDER BY f.degree DESC, f.node
    LIMIT {KCORE_TOP}
    """,
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_ROUNDS} synchronized peel rounds toward the
    {KCORE_K}-core of the customer<->supplier trade graph: each round
    drops nodes whose CURRENT degree is below {KCORE_K}, and every
    edge whose either endpoint dropped. Returns the top-{KCORE_TOP}
    surviving nodes by final degree with the core's node/edge totals
    in-row (directed-edge count — the graph stores both directions).

    The oracle unrolls the same recurrence as {KCORE_ROUNDS} CTE
    layers, so one wrong join in any round breaks the hash — the
    iterative-algorithm proof pattern shared with q_pagerank and
    q_label_propagation.

    Scale: per round one degree aggregate + two semi-join-shaped
    equi-joins against the (tiny) surviving-node set over a
    localCheckpoint-bounded edge table; bucketing edges on node id
    co-locates every round."""
    edges = _trade_edges(spark, sf_dir)
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= KCORE_K).select(
            F.col("src").alias("node")
        )
        edges = (
            edges.join(keep.withColumnRenamed("node", "src"), "src")
            .join(keep.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    fdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    tot = fdeg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"),
        F.coalesce(F.sum("degree"), F.lit(0))
        .cast("bigint")
        .alias("n_core_edges"),
    )
    return (
        fdeg.crossJoin(F.broadcast(tot))
        .orderBy(F.col("degree").desc(), "node")
        .limit(KCORE_TOP)
        .select("node", "degree", "n_core_nodes", "n_core_edges")
    )


_fmt(q_kcore, KCORE_K=KCORE_K, KCORE_ROUNDS=KCORE_ROUNDS, KCORE_TOP=KCORE_TOP)


# ---------------------------------------------------------------------------
# bounded-round BFS single-source shortest paths (round 9)
# ---------------------------------------------------------------------------

#: synchronized BFS relaxation rounds; nodes farther than this many
#: hops from the source report as unreached.
BFS_ITERS = 4
#: "infinity" sentinel — any value > BFS_ITERS works; using an int
#: keeps the whole relaxation in exact integer arithmetic.
BFS_INF = 9999


def _sql_bfs_round(k: int) -> str:
    """One unrolled relaxation: d{k} -> d{k+1}."""
    return f"""
    d{k + 1} AS (
        SELECT d.node,
               LEAST(d.dist, COALESCE(MIN(nd.dist) + 1, {BFS_INF})) AS dist
        FROM d{k} d
        LEFT JOIN edges e ON e.dst = d.node
        LEFT JOIN d{k} nd ON nd.node = e.src
        GROUP BY d.node, d.dist
    )"""


@query(
    "q_shortest_paths",
    oracle=f"""
    WITH {_SQL_EDGES},
    srcn AS (SELECT MIN(node) AS s FROM nodes),
    d0 AS (
        SELECT node,
               CASE WHEN node = (SELECT s FROM srcn)
                    THEN 0 ELSE {BFS_INF} END AS dist
        FROM nodes
    ),
    {",".join(_sql_bfs_round(k) for k in range(BFS_ITERS))}
    SELECT dist AS n_hops,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS first_node,
           MAX(node) AS last_node
    FROM d{BFS_ITERS}
    WHERE dist < {BFS_INF}
    GROUP BY dist
    ORDER BY dist
    """,
)
def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths by {BFS_ITERS} synchronized BFS
    relaxation rounds over the customer<->supplier trade graph, from a
    deterministic source (the lexicographically smallest node id).
    Each round sets ``dist(v) = min(dist(v), min over in-neighbors(u)
    of dist(u) + 1)`` — Bellman-Ford restricted to unit weights, so
    after K rounds every node within K hops holds its exact hop
    distance. Output: the BFS frontier profile — per-distance node
    count with the min/max node id at each ring (2 x {BFS_ITERS} hops
    covers the whole bipartite graph's typical diameter shells).

    The oracle unrolls the identical recurrence as {BFS_ITERS} CTE
    layers over the same edge CTE (the q_pagerank /
    q_label_propagation proof pattern); distances stay exact integers
    throughout, with {BFS_INF} as infinity.

    Scale: one equi-join + one MIN aggregate per round against a
    localCheckpoint-pinned edge table — identical per-round cost to
    label propagation, and like it the O(|V|) distance vector
    broadcasts into the per-round join when it fits
    ({PR_BROADCAST_MAX_NODES}-node dispatch), so the edge table never
    moves; larger graphs keep the shuffle join for bucketed
    co-location. MIN is order-independent, so the result is
    partitioning-invariant."""
    # EAGER pins, measured at sf0.1 (medians-of-3): edges + per-round
    # distance vector pinned 4.6 s -> 3.8 s steady-state (and first
    # run 10 s -> 4.2 s) — the per-round broadcast otherwise re-plans
    # the accumulated two-join-per-round lineage each time. The pinned
    # frame is O(|V|) — the same bounded-materialization budget as the
    # unigram DP frontier.
    edges = _trade_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # the initial distance vector and the |V| probe are deterministic
    # in the dataset — cached per dataset (_edge_memo, round 18) so
    # repeated invocations skip one eager O(|V|) pin + one collect;
    # the per-ROUND pins below stay (measured: dropping them loses —
    # see OPTIMIZATION_r18.md, graph family)
    def dist0() -> DataFrame:
        srcn = nodes.agg(F.min("node").alias("s"))
        return (
            nodes.crossJoin(F.broadcast(srcn))
            .select(
                "node",
                F.when(F.col("node") == F.col("s"), F.lit(0))
                .otherwise(F.lit(BFS_INF))
                .alias("dist"),
            )
            .localCheckpoint(eager=True)
        )

    dist = _edge_memo("bfs_dist0", spark, sf_dir, dist0)
    small = _n_nodes(spark, sf_dir) <= PR_BROADCAST_MAX_NODES
    bc = F.broadcast if small else (lambda df: df)
    for _ in range(BFS_ITERS):
        nbr = (
            edges.join(
                bc(
                    dist.select(
                        F.col("node").alias("src"), F.col("dist").alias("sd")
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("sd").alias("m"))
        )
        dist = (
            dist.join(bc(nbr), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("m") + 1, F.lit(BFS_INF))
                ).alias("dist"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        dist.where(F.col("dist") < BFS_INF)
        .groupBy(F.col("dist").alias("n_hops"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").alias("first_node"),
            F.max("node").alias("last_node"),
        )
        .orderBy("n_hops")
    )


_fmt(
    q_shortest_paths,
    BFS_ITERS=BFS_ITERS,
    BFS_INF=BFS_INF,
    PR_BROADCAST_MAX_NODES=PR_BROADCAST_MAX_NODES,
)


# ---------------------------------------------------------------------------
# degree distribution + assortativity report (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_degree_stats",
    oracle=f"""
    WITH {_SQL_EDGES},
    d AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src),
    ed AS (
        SELECT ds.degree AS sd, dd.degree AS dd
        FROM edges e
        JOIN d ds ON ds.node = e.src
        JOIN d dd ON dd.node = e.dst
    ),
    corr AS (
        SELECT COUNT(*) AS n_edges,
               CAST(SUM(CAST(sd AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(dd AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(sd * sd AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(dd * dd AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(sd * dd AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM ed
    ),
    hist AS (
        SELECT length(bin(degree)) AS degree_bin,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MIN(degree) AS BIGINT) AS min_degree,
               CAST(MAX(degree) AS BIGINT) AS max_degree
        FROM d GROUP BY length(bin(degree))
    )
    SELECT h.degree_bin, h.n_nodes, h.min_degree, h.max_degree,
           CAST(c.n_edges AS BIGINT) AS n_edges,
           round((c.n_edges * c.sxy - c.sx * c.sy)
                 / sqrt((c.n_edges * c.sxx - c.sx * c.sx)
                        * (c.n_edges * c.syy - c.sy * c.sy)),
                 6) AS assortativity
    FROM hist h, corr c
    ORDER BY h.degree_bin
    """,
)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution report for the trade graph: nodes binned by
    log2 degree (``length(bin(degree))`` — the exact integer log trick
    shared with the HLL rho computation) with per-bin node counts and
    degree ranges, plus the graph's degree assortativity in-row — the
    Pearson correlation between source and destination degree over
    every directed edge, computed from exact-decimal power sums
    (negative = hubs attach to leaves, the typical bipartite
    trade-graph shape).

    Scale: one degree aggregate, two equi-joins of the edge table
    against the O(|V|) degree vector (broadcastable / bucketable), one
    global six-number aggregate, and a histogram over |V| rows. The
    1-row correlation frame crosses into the histogram (whitelisted
    constant-size broadcast, the q_kcore pattern)."""
    edges = _trade_edges(spark, sf_dir)
    d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    ds = d.select(F.col("node").alias("src"), F.col("degree").alias("sd"))
    dd = d.select(F.col("node").alias("dst"), F.col("degree").alias("dd"))
    ed = edges.join(ds, "src").join(dd, "dst")
    d38 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    sd, ddc = F.col("sd"), F.col("dd")
    corr = ed.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(d38(sd)).cast("double").alias("sx"),
        F.sum(d38(ddc)).cast("double").alias("sy"),
        F.sum(d38(sd * sd)).cast("double").alias("sxx"),
        F.sum(d38(ddc * ddc)).cast("double").alias("syy"),
        F.sum(d38(sd * ddc)).cast("double").alias("sxy"),
    )
    hist = d.groupBy(
        F.length(F.bin("degree")).alias("degree_bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("degree").cast("bigint").alias("min_degree"),
        F.max("degree").cast("bigint").alias("max_degree"),
    )
    n = F.col("n_edges")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return (
        hist.crossJoin(F.broadcast(corr))
        .select(
            "degree_bin",
            "n_nodes",
            "min_degree",
            "max_degree",
            n.cast("bigint").alias("n_edges"),
            F.round(r, 6).alias("assortativity"),
        )
        .orderBy("degree_bin")
    )


# ---------------------------------------------------------------------------
# link prediction: common-neighbor / Jaccard scores on non-edges
# ---------------------------------------------------------------------------
# The recommender-prep twin of q_item_similarity: instead of ranking
# EXISTING co-purchase pairs, rank pairs that have never co-occurred
# but share many co-purchase partners — the classic common-neighbors /
# Jaccard link-prediction baseline, and the candidate-generation stage
# of a "customers also bought" model. Pure relational shape: one
# wedge join (edge ⋈ edge through the shared partner) + an anti-join
# against the existing edge set.

LP_TOP = 30
LP_MIN_CN = 2


@query(
    "q_link_prediction",
    oracle=f"""
    WITH co AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
    ),
    und AS (
        SELECT u, v FROM co UNION ALL SELECT v AS u, u AS v FROM co
    ),
    deg AS (SELECT u AS k, COUNT(*) AS d FROM und GROUP BY u),
    wedges AS (
        SELECT e1.u AS a, e2.v AS b, COUNT(*) AS cn
        FROM und e1 JOIN und e2
          ON e1.v = e2.u AND e1.u < e2.v
        GROUP BY e1.u, e2.v
        HAVING COUNT(*) >= {LP_MIN_CN}
    ),
    nonedges AS (
        SELECT w.a, w.b, w.cn
        FROM wedges w
        LEFT JOIN co ON co.u = w.a AND co.v = w.b
        WHERE co.u IS NULL
    )
    SELECT n.a AS part_a, n.b AS part_b,
           CAST(n.cn AS BIGINT) AS common_neighbors,
           CAST(da.d AS BIGINT) AS deg_a,
           CAST(db.d AS BIGINT) AS deg_b,
           round(CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn), 6) AS jaccard
    FROM nonedges n
    JOIN deg da ON da.k = n.a
    JOIN deg db ON db.k = n.b
    ORDER BY round(CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn), 6) DESC,
             n.a, n.b
    LIMIT {LP_TOP}
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the support-pruned co-purchase graph: for
    every part pair that is NOT an edge, count common co-purchase
    partners through a wedge join (edge ⋈ edge on the shared
    neighbor, >= {LP_MIN_CN} to bound the candidate set), anti-join
    the existing edge set away, and rank by neighborhood Jaccard
    cn / (deg_a + deg_b - cn) — the standard common-neighbors
    baseline that feeds recommender candidate generation.

    Scores are exact-integer ratios with one final rounded division
    (the repo's ulp guard: rank by the ROUNDED score before the key
    tie-break), so ordering is engine-exact.

    Scale: the wedge join's fan-out is sum-of-degrees-squared over the
    SUPPORT-PRUNED edge set (TRI_MIN_COOCCUR floors edge weight, the
    same bound the triangle counter rides); degrees and the anti-join
    are equi-joins on part keys. No similarity matrix is ever
    materialized — only wedges that actually exist flow through."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    co = (
        # round 17: in-row pair expansion (copurchase_pairs) replaces
        # the lineitem x lineitem self-join — identical pair multiset,
        # one order-key shuffle instead of the join exchange
        copurchase_pairs(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= TRI_MIN_COOCCUR)
        .select("u", "v")
        # five consumers read the pruned edge set (both wedge sides,
        # the degree table twice through und, and the anti-join's
        # right side): pin it once — the unpinned plan re-ran the
        # whole pair build per consumer (36 parquet scans, zero
        # ReusedExchange, measured this round)
        .localCheckpoint(eager=False)
    )
    und = co.unionAll(co.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("k")).agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = und.alias("e1"), und.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e1.v") == F.col("e2.u"))
            & (F.col("e1.u") < F.col("e2.v")),
        )
        .groupBy(F.col("e1.u").alias("a"), F.col("e2.v").alias("b"))
        .agg(F.count(F.lit(1)).alias("cn"))
        .where(F.col("cn") >= LP_MIN_CN)
    )
    nonedges = wedges.join(
        co,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    jac = F.col("cn").cast("double") / (
        F.col("da.d") + F.col("db.d") - F.col("cn")
    )
    return (
        nonedges.join(deg.alias("da"), F.col("a") == F.col("da.k"))
        .join(deg.alias("db"), F.col("b") == F.col("db.k"))
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.col("da.d").cast("bigint").alias("deg_a"),
            F.col("db.d").cast("bigint").alias("deg_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "part_a", "part_b")
        .limit(LP_TOP)
    )


_fmt(q_link_prediction, LP_TOP=LP_TOP, LP_MIN_CN=LP_MIN_CN)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (round 11)
# ---------------------------------------------------------------------------
# PageRank answers "who is central in the whole trade graph"; HITS
# answers the bipartite question the customer->supplier direction
# actually poses: a good HUB is a customer who buys from good
# suppliers, a good AUTHORITY is a supplier bought from by good hubs —
# mutual recursion, alternating gather steps. Same proof discipline as
# q_pagerank: fixed-point integers (scores are non-negative, so the
# max-normalization's integral division is engine-exact), fixed
# iteration count, oracle unrolls the identical recurrence as
# MATERIALIZED CTE layers — one off-by-one anywhere breaks the hash.

HITS_SCALE = 10**12
HITS_ITERS = 4
HITS_TOP = 20


def hits(
    edges: DataFrame,
    iters: int = HITS_ITERS,
    *,
    pinned: bool = False,
    n_nodes: int | None = None,
) -> DataFrame:
    """Alternating hub/authority fixed-point iteration over a DIRECTED
    (src, dst) edge table. Each half-step is one equi-join + one MAX
    aggregate + one max-normalization to HITS_SCALE (integral division
    — exact, and safe because scores stay non-negative). Returns
    ``(side, node, score_fp)`` for 'hub' (src side) and 'authority'
    (dst side).

    Scale: the per-half-step shuffle is the gather aggregate on the
    join key; the score vectors are O(|V|) and broadcast under the
    same size dispatch as ``pagerank`` (the |V| probe is one 1-row
    collect), so below the threshold each half-step moves only the
    vector, never the checkpointed edge table."""
    if not pinned:
        edges = edges.localCheckpoint(eager=False)
    hubs = edges.select(F.col("src").alias("node")).distinct()
    if n_nodes is None:
        n_nodes = hubs.count()
    small = n_nodes <= PR_BROADCAST_MAX_NODES
    h = hubs.select("node", F.lit(HITS_SCALE).cast("bigint").alias("score"))

    def gather(vec: DataFrame, key: str, out: str) -> DataFrame:
        """out-side score = sum of the key-side vector along edges,
        max-normalized back to HITS_SCALE. ``raw`` is pinned before
        use: it feeds BOTH the max and the normalize, and without the
        pin each half-step doubles the recompute lineage — 2^(2*iters)
        re-executions of the first gather by the last (measured 5.8 s
        -> 3.9 s at sf0.1; the remaining cost is the 16 scheduled
        half-step jobs, the same per-iteration floor q_pagerank
        pays)."""
        rhs = F.broadcast(vec) if small else vec
        raw = (
            edges.join(rhs, edges[key] == rhs["node"])
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum("score").cast("decimal(38,0)").alias("raw"))
        ).localCheckpoint(eager=False)
        m = raw.agg(F.max("raw").alias("m"))
        return raw.crossJoin(F.broadcast(m)).select(
            "node",
            F.expr(f"CAST(raw * {HITS_SCALE} div m AS BIGINT)").alias(
                "score"
            ),
        )

    a = None
    for _ in range(iters):
        a = gather(h, "src", "dst")
        h = gather(a, "dst", "src")
    return h.select(
        F.lit("hub").alias("side"), "node", F.col("score").alias("score_fp")
    ).unionByName(
        a.select(
            F.lit("authority").alias("side"),
            "node",
            F.col("score").alias("score_fp"),
        )
    )


def _sql_hits_iter(k: int) -> str:
    """One unrolled oracle iteration: h{k} -> a{k+1} -> h{k+1}."""
    return f"""
    araw{k + 1} AS MATERIALIZED (
        SELECT e.dst AS node, CAST(SUM(h{k}.score) AS HUGEINT) AS raw
        FROM fedges e JOIN h{k} ON h{k}.node = e.src GROUP BY e.dst
    ),
    a{k + 1} AS MATERIALIZED (
        SELECT node,
               CAST(raw * {HITS_SCALE}
                    // (SELECT MAX(raw) FROM araw{k + 1}) AS BIGINT)
                 AS score
        FROM araw{k + 1}
    ),
    hraw{k + 1} AS MATERIALIZED (
        SELECT e.src AS node, CAST(SUM(a{k + 1}.score) AS HUGEINT) AS raw
        FROM fedges e JOIN a{k + 1} ON a{k + 1}.node = e.dst GROUP BY e.src
    ),
    h{k + 1} AS MATERIALIZED (
        SELECT node,
               CAST(raw * {HITS_SCALE}
                    // (SELECT MAX(raw) FROM hraw{k + 1}) AS BIGINT)
                 AS score
        FROM hraw{k + 1}
    )"""


_SQL_HITS_ITERS = ",".join(_sql_hits_iter(k) for k in range(HITS_ITERS))


@query(
    "q_hits",
    oracle=f"""
    WITH {_SQL_EDGES},
    fedges AS MATERIALIZED (
        SELECT src, dst FROM edges WHERE src LIKE 'c%'
    ),
    h0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, CAST({HITS_SCALE} AS BIGINT) AS score
        FROM fedges
    ),
    {_SQL_HITS_ITERS},
    sides AS (
        SELECT 'hub' AS side, node, score AS score_fp FROM h{HITS_ITERS}
        UNION ALL
        SELECT 'authority', node, score FROM a{HITS_ITERS}
    ),
    ranked AS (
        SELECT side, node, score_fp,
               ROW_NUMBER() OVER (
                   PARTITION BY side ORDER BY score_fp DESC, node
               ) AS rk
        FROM sides
    )
    SELECT side, node, score_fp FROM ranked WHERE rk <= {HITS_TOP}
    ORDER BY side, score_fp DESC, node
    """,
)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the DIRECTED customer->supplier trade graph
    ({HITS_ITERS} alternating fixed-point iterations, max-normalized
    to {HITS_SCALE}): top-{HITS_TOP} hub customers and authority
    suppliers. Scores stay non-negative so the normalization's
    integral division is engine-exact; the oracle unrolls the
    identical recurrence as MATERIALIZED CTE layers — the q_pagerank
    proof pattern on the mutual-recursion shape PageRank's single
    vector cannot express."""
    # the forward (customer->supplier) half of the pinned edge table
    # and its hub count are dataset-deterministic — cached per dataset
    # (_edge_memo, round 18) so repeated invocations skip the per-call
    # lazy pin + the |V| probe; the per-half-step pins inside hits()
    # stay (measured: dropping them explodes the recompute lineage,
    # 5.8 -> 43 s — see OPTIMIZATION_r18.md)
    fwd = _edge_memo(
        "hits_fwd",
        spark,
        sf_dir,
        lambda: _trade_edges(spark, sf_dir)
        .where(F.col("src").startswith("c"))
        .localCheckpoint(eager=False),
    )
    n_hubs = _edge_memo(
        "hits_n_hubs",
        spark,
        sf_dir,
        lambda: fwd.select("src").distinct().count(),
    )
    scores = hits(fwd, pinned=True, n_nodes=n_hubs)
    w = Window.partitionBy("side").orderBy(
        F.col("score_fp").desc(), "node"
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HITS_TOP)
        .select("side", "node", "score_fp")
        .orderBy("side", F.col("score_fp").desc(), "node")
    )


from pyspark.sql.window import Window  # noqa: E402

_fmt(q_hits, HITS_ITERS=HITS_ITERS, HITS_TOP=HITS_TOP, HITS_SCALE=HITS_SCALE)
