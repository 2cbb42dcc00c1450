"""Graph analytics over the purchase data (north-star extension).

PageRank over the part co-purchase graph: nodes are parts, with a
directed edge a→b whenever a and b appear in the same order (both
directions, distinct edges). Two power iterations with damping 0.85 —
the classic importance propagation (Brin/Page '98, public algorithm),
unrolled so the oracle is two chained CTEs rather than recursion.

Exactness discipline: scores live in 1e-6 fixed-point BIGINTs and every
division is integer `div` (truncation toward zero — all quantities
non-negative, so floor; identical in DuckDB as `//`). That makes the
per-edge contribution `pr div outdeg` and the damped update
`0.15 + 0.85·Σcontrib` bit-identical across engines — floating PageRank
could drift in the last ulp per iteration and diverge hashes.

Scale shape: edges build from the DISTINCT (order, part) grid (fanout
bounded by parts-per-order², single digits squared — not lines²);
each iteration is one shuffle on dst (groupBy) plus an edge⋈score join
on src — the standard Pregel-as-joins layout. More iterations = more
of the same stages; at 100 TB you'd checkpoint every few iterations
exactly like dedup_clusters' label propagation does.

Reference: no counterpart (the reference has no graph surface); the
iterative-operator discipline mirrors dedup.dedup_clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.io import (
    load_star,
    register_memo_warmer,
    register_persist,
    session_memo,
)

PR_SCALE = 1_000_000  # 1e-6 fixed-point score units
DAMP_NUM = 850_000  # 0.85 in score units
BASE_NUM = 150_000  # 0.15 in score units
N_ITER = 2


def _pair_counts(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase pairs (src ≠ dst) with their distinct-order
    co-occurrence count.

    Built by grouping the order's part set and exploding the pair grid —
    one shuffle (groupBy order) + one pair aggregate, instead of the
    distinct + self-join + distinct of the naive shape. collect_set
    holds only parts-per-order in memory (single digits here; bounded
    by basket size at any scale). ``ps`` is a SET, so each order
    contributes each ordered pair exactly once and the row count per
    (src, dst) is |orders containing both| — the same co_orders
    part_similarity formerly derived from its own distinct grid; the
    distinct EDGE set the graph family consumes is the same rows minus
    the count column (r15: one shared build serves both families)."""
    grp = lineitem.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        grp.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("co_orders"))
    )


def _edges(lineitem: DataFrame) -> DataFrame:
    """Distinct directed co-purchase edges (src ≠ dst), no degree column.

    A projection of ``_pair_counts`` — the pair aggregate dedupes exactly
    like the former ``.distinct()`` (same hash aggregate on (src, dst),
    the count is a free extra long). Out-degree deliberately stays OFF
    the edge table: it lives on the ~|parts| node table instead, so the
    persisted edge set is 2 longs/row and the degree join never
    re-shuffles the edges."""
    return _pair_counts(lineitem).select("src", "dst")


def part_pagerank(
    lineitem: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """(part, outdeg, pagerank) after N_ITER damped power iterations.

    Nodes with no outgoing edges cannot exist here (co-purchase edges
    are symmetric), and isolated parts (never co-purchased) are not
    nodes — standard for co-occurrence graphs.
    """
    # persist: the edge set is consumed once per iteration plus once
    # for the node list (registered callers go through build_pagerank's
    # per-session memo instead, amortizing the self-join entirely)
    return _pagerank_from_edges(register_persist(_edges(lineitem)))


def _pagerank_from_edges(edges: DataFrame) -> DataFrame:
    # One row per node (~|parts|, tiny next to the edge set). Eager
    # localCheckpoint truncates the lineage so the groupBy over the
    # edges runs exactly once — unrolled iterations otherwise re-execute
    # every upstream consumer (measured 3× a 2.4M-row shuffle here).
    nodes = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
        .withColumnRenamed("src", "part")
        .localCheckpoint()
    )
    pr = nodes.withColumn("pr", F.lit(PR_SCALE).cast("long"))
    for _ in range(N_ITER):
        # pr div outdeg is constant per src, so compute it on the node
        # table BEFORE touching the edges: the big join then carries one
        # small side (AQE broadcasts it) and the edge set is never
        # re-shuffled. On a cluster where even the node table outgrows
        # broadcast, this degrades to a shuffle join on src — still one
        # shuffle per iteration, the standard Pregel layout.
        contrib_src = pr.select(
            F.col("part").alias("src"), F.expr("pr div outdeg").alias("_c")
        )
        # EXPLICIT broadcast: contrib_src is node-sized but checkpointed
        # (LogicalRDD — no stats), so the planner can't prove it small
        # and falls back to shuffling the EDGE side. Measured r11: the
        # 12-slowest byte-slope audit caught pagerank's shuffle growing
        # 70× on 10× data at sf0.1 purely from this join; with the hint
        # the edges never move. At a scale where the node table outgrows
        # broadcast, drop the hint and pre-partition edges by src.
        contrib = (
            edges.join(F.broadcast(contrib_src), "src")
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        pr = (
            nodes.join(
                F.broadcast(contrib.select(F.col("dst").alias("part"), "_in")),
                "part",
                "left",
            )
            .withColumn(
                "pr",
                F.expr(
                    f"{BASE_NUM} + ({DAMP_NUM} * coalesce(_in, 0))"
                    f" div {PR_SCALE}"
                ).cast("long"),
            )
            .select("part", "outdeg", "pr")
            # per-iteration checkpoint: pr is consumed twice by the next
            # level (contrib + the left join), which doubles the DAG per
            # iteration without it — same discipline as dedup_clusters
            .localCheckpoint()
        )
    return pr.select("part", "outdeg", F.col("pr").alias("pagerank_e6"))


@session_memo
def _cached_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted co-purchase edge set — the same amortization the
    dedup family applies to its shingle index: the pair-grid explode is
    the expensive one-time stage (~4 s at sf0.1, the whole query ~8 s
    cold); later calls skip it."""
    # r14: persist the edge set PRE-PARTITIONED on dst (guide-§2.4
    # "two operations keyed the same way share one exchange"): every
    # iterative consumer joins a broadcast node table onto the edges
    # and then aggregates BY dst — label propagation 3×/run,
    # pagerank's contribution sum 2×/run. A broadcast join preserves
    # the streamed side's partitioning, so those aggregations now
    # run exchange-free against the cached layout; the one
    # dst-shuffle moves into the declared memo build. Consumers
    # keyed on src (triangles' degree, closure's frontier join)
    # shuffled before and still do — unchanged.
    # r15: the persisted frame carries co_orders (one extra long,
    # same build cost — groupBy replaces distinct), so the memo also
    # serves part_similarity's pair pipeline; the graph consumers
    # read it through the _cached_edges projection, whose column
    # pruning reaches the InMemoryTableScan.
    return register_persist(
        _pair_counts(load_star(spark, sf_dir)["lineitem"]).repartition("dst")
    )


def _cached_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # projection preserves the persisted dst-partitioning
    return _cached_pair_counts(spark, sf_dir).select("src", "dst")


def build_pagerank(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _pagerank_from_edges(_cached_edges(spark, sf_dir))


ORACLE_SQL_PAGERANK = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
pr0 AS (SELECT src AS part, outdeg, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg),
in1 AS (
  SELECT e.dst, SUM(p.pr // d.outdeg) AS s
  FROM e JOIN pr0 p ON e.src = p.part JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
pr1 AS (
  SELECT p.part, p.outdeg,
         CAST({BASE_NUM} + ({DAMP_NUM} * COALESCE(i.s, 0)) // {PR_SCALE}
           AS BIGINT) AS pr
  FROM pr0 p LEFT JOIN in1 i ON p.part = i.dst
),
in2 AS (
  SELECT e.dst, SUM(p.pr // d.outdeg) AS s
  FROM e JOIN pr1 p ON e.src = p.part JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
pr2 AS (
  SELECT p.part, p.outdeg,
         CAST({BASE_NUM} + ({DAMP_NUM} * COALESCE(i.s, 0)) // {PR_SCALE}
           AS BIGINT) AS pr
  FROM pr1 p LEFT JOIN in2 i ON p.part = i.dst
)
SELECT part, outdeg, pr AS pagerank_e6 FROM pr2
"""


# ------------------------------------------------- triangle counting ----
CC_SCALE = 1_000_000  # 1e-6 fixed-point clustering coefficient


def copurchase_triangles(edges: DataFrame) -> DataFrame:
    """Per-part triangle count + local clustering coefficient.

    Degree-ordered orientation (the classic sub-quadratic trick: point
    every undirected edge from its lower-(degree, id) endpoint to the
    higher one). Each triangle then appears exactly once — as two
    out-edges of its deg-order-minimum vertex plus the closing edge —
    and per-node out-degree is bounded by O(√m), so hub nodes generate
    no work (their edges all point INTO them).

    Execution shape: instead of materializing the Σ outdeg² wedge set
    and shuffling it against the edge table (72M intermediate rows at
    sf0.1 — measured 40 s), each oriented edge (u,v) intersects the two
    out-neighbor ARRAYS: triangles through the edge = N⁺(u) ∩ N⁺(v).
    The adjacency table is node-sized (AQE broadcasts it onto the
    edges), the intersection is a per-row JVM array op, and the only
    rows ever materialized beyond the edges are the triangles
    themselves. Array width is bounded by the orientation's O(√m)
    out-degree cap, so executor memory per row stays bounded at any
    scale.

    Exactness: clustering coefficient is 2·tri·1e6 div deg(deg−1) in
    BIGINT space (truncating div, same discipline as the pagerank
    scores) — bit-identical across engines. tri ≤ deg²/2 keeps
    2·tri·1e6 < 2⁶³ for deg up to ~10⁶.

    Reference: no counterpart (no graph surface); public algorithm
    (degree-ordered / compact-forward triangle listing, cf. Latapy
    2008).
    """
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .withColumnRenamed("src", "part")
        .localCheckpoint()
    )
    du = deg.select(F.col("part").alias("src"), F.col("deg").alias("deg_src"))
    dv = deg.select(F.col("part").alias("dst"), F.col("deg").alias("deg_dst"))
    # orientation: the deg tables are node-sized so AQE broadcasts them
    # onto the edge set (edges never re-shuffle here); the oriented edge
    # list flows straight into the adjacency groupBy without its own
    # materialization — ONLY the node-sized adjacency table is
    # checkpointed, and the oriented edges are re-derived from it by
    # explode (zero-shuffle), which drops one eager edge-sized
    # materialization and one join from the r9 shape (measured -1.2 s
    # at sf0.1)
    e_or = (
        edges.join(du, "src")
        .join(dv, "dst")
        .filter(
            (F.col("deg_src") < F.col("deg_dst"))
            | (
                (F.col("deg_src") == F.col("deg_dst"))
                & (F.col("src") < F.col("dst"))
            )
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    adj = (
        e_or.groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        .localCheckpoint()
    )
    adj_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v"))
    # each oriented edge (u, v) = one element of N⁺(u): carry nbrs_u
    # along the explode instead of joining it back; the inner join on v
    # drops edges whose head has no out-neighbors — those close no
    # triangle, and the final left join restores every part
    # EXPLICIT broadcasts (r14; same no-stats fallback as pagerank /
    # closure, r11 byte-slope audit): adj_v and per_part are node-sized
    # but derive from checkpoints (LogicalRDD — no stats), so the
    # planner fell back to SortMergeJoin and SHUFFLED the edge-sized
    # exploded side / the full degree table. With the hints the
    # oriented-edge explode never moves. At a scale where the adjacency
    # table outgrows broadcast, drop the hint and pre-partition the
    # explode by v — still one shuffle, never the Σdeg² wedge set.
    tri = (
        adj.select(
            "u",
            F.col("nbrs").alias("nbrs_u"),
            F.explode("nbrs").alias("v"),
        )
        .join(F.broadcast(adj_v), "v")
        .select(
            "u",
            "v",
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
        )
    )
    per_part = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.join(F.broadcast(per_part), "part", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0).cast("long")))
        .select(
            "part",
            F.col("deg").alias("degree"),
            "triangles",
            F.when(
                F.col("deg") >= 2,
                F.expr(f"(2 * triangles * {CC_SCALE}) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_e6"),
        )
    )


def build_triangles(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return copurchase_triangles(_cached_edges(spark, sf_dir))


ORACLE_SQL_TRIANGLES = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src AS part, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
eo AS (
  SELECT e.src AS u, e.dst AS v, dv.deg AS deg_v
  FROM e JOIN deg du ON e.src = du.part JOIN deg dv ON e.dst = dv.part
  WHERE du.deg < dv.deg OR (du.deg = dv.deg AND e.src < e.dst)
),
w AS (
  SELECT x.u, x.v AS b, y.v AS c
  FROM eo x JOIN eo y ON x.u = y.u
  WHERE x.deg_v < y.deg_v OR (x.deg_v = y.deg_v AND x.v < y.v)
),
tri AS (SELECT w.u, w.b, w.c FROM w JOIN eo z ON w.b = z.u AND w.c = z.v),
p3 AS (
  SELECT u AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS triangles FROM p3 GROUP BY 1)
SELECT d.part, d.deg AS degree,
       COALESCE(c.triangles, CAST(0 AS BIGINT)) AS triangles,
       CAST(CASE WHEN d.deg >= 2
            THEN (2 * COALESCE(c.triangles, 0) * {CC_SCALE})
                 // (d.deg * (d.deg - 1))
            ELSE 0 END AS BIGINT) AS clustering_e6
FROM deg d LEFT JOIN cnt c ON d.part = c.part
"""


# ------------------------------------------- item-item similarity ----
SIM_MIN_CO = 2  # minimum co-occurrence support for a recommendation
SIM_TOP_K = 5  # related items kept per part


def part_similarity(
    lineitem: DataFrame, pair_counts: DataFrame | None = None
) -> DataFrame:
    """"Customers who bought X also bought Y": top-k related parts per
    part, scored by exact co-purchase Jaccard |orders(a)∩orders(b)| /
    |orders(a)∪orders(b)| in 1e-6 fixed point — the classic item-item
    collaborative-filtering primitive (Linden et al. 2003), one level up
    from brand_affinity's brand-support counts.

    Shape: pair generation from the per-order part set (explode the
    pair grid — fanout parts-per-order², bounded by basket size, never
    lines²), one groupBy for co-occurrence counts, a broadcast join of
    the node-sized per-part order counts, then a WindowGroupLimit top-k
    per part. Support floor SIM_MIN_CO prunes the noise pairs BEFORE
    the window, which is what keeps the ranked set small at scale.
    Ranking key is the BIGINT fixed-point score (ties → lower partner
    id) — engine-exact, like the rest of the family.
    """
    # NOTE (r14): checkpointing the twice-consumed distinct grid was
    # tried and MEASURED slower at sf0.1 (2.59 s → 2.99 s min of 2) —
    # the grid is fact-sized (~|distinct order-part|), so the eager
    # materialization barrier outweighs re-running the distinct off the
    # cached scan. r15: the grid now feeds ONLY the per-part order
    # counts (the pair pipeline reads the shared co-purchase pair-count
    # memo — formerly this query re-derived the same pairs the graph
    # edge memo already enumerates), and `cnt` itself is part-grain, so
    # checkpointing IT for its two join consumers is cheap.
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    cnt = (
        op.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .localCheckpoint(eager=True)
    )
    pc = pair_counts if pair_counts is not None else _pair_counts(lineitem)
    pairs = pc.select(
        F.col("src").alias("part_a"),
        F.col("dst").alias("part_b"),
        "co_orders",
    ).filter(F.col("co_orders") >= SIM_MIN_CO)
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_a"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_b"))
    scored = (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .withColumn(
            "jaccard_e6",
            F.expr("(co_orders * 1000000) div (n_a + n_b - co_orders)"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.desc("jaccard_e6"), F.asc("part_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SIM_TOP_K)
        .select("part_a", "part_b", "co_orders", "n_a", "n_b",
                "jaccard_e6", "rank")
    )


def build_part_similarity(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return part_similarity(
        load_star(spark, sf_dir)["lineitem"],
        pair_counts=_cached_pair_counts(spark, sf_dir),
    )


ORACLE_SQL_PART_SIMILARITY = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM op GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS co_orders
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {SIM_MIN_CO}
),
scored AS (
  SELECT p.part_a, p.part_b, p.co_orders,
         ca.n_orders AS n_a, cb.n_orders AS n_b,
         (p.co_orders * 1000000) // (ca.n_orders + cb.n_orders - p.co_orders)
           AS jaccard_e6
  FROM pairs p
  JOIN cnt ca ON p.part_a = ca.l_partkey
  JOIN cnt cb ON p.part_b = cb.l_partkey
)
SELECT part_a, part_b, co_orders, n_a, n_b, jaccard_e6,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY part_a ORDER BY jaccard_e6 DESC, part_b) AS INTEGER)
         AS rank
FROM scored
QUALIFY rank <= {SIM_TOP_K}
"""


# ------------------------------------- label-propagation communities ----
LP_ROUNDS = 3


def part_communities(edges: DataFrame) -> DataFrame:
    """Community detection by synchronous label propagation: every part
    starts as its own label; each round it adopts the most frequent
    label among its co-purchase neighbors (tie-break: smaller label —
    the determinism knob async LPA lacks). Three fixed rounds, then a
    per-community summary.

    The basket-affinity clustering of merchandising ("which parts form
    a buying theme"), complementary to dedup_clusters' min-label
    CONNECTED COMPONENTS: frequency-LPA splits a connected graph into
    dense regions instead of flooding to one label per component.

    Plan: per round one join edges⋈labels on src (labels is
    node-sized), one (dst, label) count agg, then the per-dst argmax as
    a second agg of min(struct(-count, label)) — lexicographic struct
    min ≡ (count DESC, label ASC) row_number 1, but it PARTIAL-aggregates
    map-side instead of sorting a window (r10: was a row_number window).
    The co-purchase pair grid is symmetric (src≠dst both directions), so
    every node appears as a dst every round and the picked set IS the
    new label table — no join-back/coalesce needed (r10: dropped the
    per-round left join). localCheckpoint per round keeps the lineage
    flat. Synchronous update = deterministic = oracle-checkable; the SQL
    twin unrolls the same three rounds.
    """
    nodes = edges.select(F.col("src").alias("part")).distinct()
    labels = nodes.withColumn("lbl", F.col("part")).localCheckpoint(
        eager=True
    )
    for _ in range(LP_ROUNDS):
        # EXPLICIT broadcast of the node-sized checkpointed label table —
        # same no-stats fallback as pagerank/closure (r11 byte-slope
        # audit); the edge set stays put, only the (dst,lbl) agg shuffles
        # r14: deterministic mode() — "most frequent value, ties to the
        # LOWEST" — is exactly the former two-level (dst,lbl)-count →
        # min(struct(-count, lbl)) argmax, but as ONE hash aggregate
        # with map-side partial merge: one exchange per round instead
        # of two (the (dst,lbl) partitioning could not serve the dst
        # aggregation). Per-group partial state is a lbl→count map,
        # bounded by the neighbor label diversity of one node.
        labels = (
            edges.join(F.broadcast(labels), edges.src == labels.part)
            .groupBy("dst")
            .agg(F.mode("lbl", True).alias("lbl"))
            .select(F.col("dst").alias("part"), "lbl")
            .localCheckpoint(eager=True)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("part").alias("min_part"),
            F.max("part").alias("max_part"),
        )
    )


def build_communities(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return part_communities(_cached_edges(spark, sf_dir))


# ------------------------------------- bounded transitive closure ------
CLOSURE_DEPTH = 3
SEED_MOD = 97


def part_closure(edges: DataFrame, d_max: int = CLOSURE_DEPTH) -> DataFrame:
    """Min-hop distance from a seed part set over the CYCLIC co-purchase
    graph, bounded at ``d_max`` hops — the recall/impact query ("every
    part within 3 baskets of a recalled part") that recursive UNION ALL
    cannot express: co-purchase edges are symmetric, so every edge is a
    2-cycle and an unguarded recursion never terminates (Spark 4's
    WITH RECURSIVE supports only UNION ALL — see part_hierarchy_sql for
    the acyclic class it does cover). The cycle guard here is the
    visited set: each BFS round anti-joins the new frontier against
    every node already labeled, so a node is labeled exactly once, at
    its first (= minimum) hop count — textbook level-synchronous
    multi-source BFS (Pregel SSSP with unit weights).

    Plan shape: per round one join frontier⋈edges on src (frontier is
    node-sized or smaller — AQE broadcasts it while it fits), one
    distinct on the next frontier, one anti-join against visited
    (node-sized), localCheckpoint to keep the unrolled lineage flat.
    Rounds = d_max (constant), not graph diameter; state never exceeds
    the node table. At 100 TB the edge set stays put (persisted,
    partitioned on src) and only node-sized frontiers move per round.
    """
    nodes = edges.select(F.col("src").alias("node")).distinct()
    visited = (
        nodes.filter(F.col("node") % SEED_MOD == 0)
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select(F.col("node").alias("src"))
    for d in range(1, d_max + 1):
        # EXPLICIT broadcasts: frontier/visited are node-sized but
        # checkpointed (no stats) — without the hint the planner shuffles
        # the EDGE side every round (r11 byte-slope audit: closure's
        # shuffle grew 534× on 10× data; with the hints the edges never
        # move and only node-sized frontiers shuffle for the distinct)
        nxt = (
            edges.join(F.broadcast(frontier), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("dist", F.lit(d).cast("int"))
            .localCheckpoint(eager=True)
        )
        # r14: visited is a UNION of already-checkpointed frames — the
        # lineage is flat without materializing the union itself, so the
        # former per-round eager checkpoint here only paid a third
        # node-sized job per round (measured: removing it is the win)
        visited = visited.unionByName(nxt)
        frontier = nxt.select(F.col("node").alias("src"))
    return visited.select(
        F.col("node").alias("p_partkey"), F.col("dist").alias("min_dist")
    )


def build_closure(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return part_closure(_cached_edges(spark, sf_dir))


# DuckDB's recursive CTEs allow UNION-distinct recursion (the working
# table keeps only rows never produced before), so the cyclic closure
# has an exact one-statement oracle; MIN(dist) collapses the re-reached
# (node, higher-dist) pairs the distinct recursion still emits.
ORACLE_SQL_CLOSURE = f"""
WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
reach (node, dist) AS (
  SELECT DISTINCT src, 0 FROM e WHERE src % {SEED_MOD} = 0
  UNION
  SELECT e.dst, r.dist + 1
  FROM reach r JOIN e ON e.src = r.node
  WHERE r.dist < {CLOSURE_DEPTH}
)
SELECT node AS p_partkey, CAST(MIN(dist) AS INTEGER) AS min_dist
FROM reach
GROUP BY node
"""


def _communities_oracle(rounds: int = LP_ROUNDS) -> str:
    parts = [
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
l0 AS (SELECT DISTINCT src AS part, src AS lbl FROM e)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"l{r - 1}"
        parts.append(
            f""",
p{r} AS (
  SELECT dst AS part, lbl FROM (
    SELECT e.dst, l.lbl, COUNT(*) AS c,
           row_number() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
    FROM e JOIN {prev} l ON e.src = l.part
    GROUP BY e.dst, l.lbl
  ) WHERE rn = 1
),
l{r} AS (
  SELECT o.part, COALESCE(p.lbl, o.lbl) AS lbl
  FROM {prev} o LEFT JOIN p{r} p ON o.part = p.part
)"""
        )
    parts.append(
        f"""
SELECT lbl AS community,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       MIN(part) AS min_part,
       MAX(part) AS max_part
FROM l{rounds}
GROUP BY lbl"""
    )
    return "".join(parts)


ORACLE_SQL_COMMUNITIES = _communities_oracle()


def _warm_shared_memos(spark: SparkSession, sf_dir: str) -> None:
    """Shared-memo warmer (io.register_memo_warmer contract): the
    co-purchase pair-count set feeds pagerank, triangles, communities,
    closure (as the distinct edge projection) and part_similarity (with
    the count column) — materialize its persist once so per-query bench
    figures measure the graph algorithms, not the pair derivation."""
    _cached_pair_counts(spark, sf_dir).count()


register_memo_warmer(_warm_shared_memos)
