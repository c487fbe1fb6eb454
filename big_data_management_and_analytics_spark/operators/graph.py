"""Graph analytics over the fixture's purchase graph.

The engine's iterative-DataFrame pattern applied to the other classic:
PageRank. Round-3 lesson encoded here: cache+count truncates RECOMPUTE
but not the logical plan — after k iterations Catalyst re-analyzes a
k-deep tree every pass and iteration time grows without bound (measured
0.8 s → 4.4 s by iteration 10). An eager ``sources/io.py::checkpoint``
truncates the PLAN (the DataFrame becomes a scan of materialized
partitions), so every iteration re-plans O(1) work. Checkpointing every 2nd
iteration halves materialization jobs while keeping plan depth bounded at 2
(measured 19.9 s → ~7.5 s end-to-end at sf0.1).

The degree fold broadcasts (n_nodes rows); past ~10^8 nodes it becomes the
shuffle join AQE would pick anyway.

Determinism: all arithmetic is integer fixed-point at 10^-15 scale —
long division floors deterministically and long sums are exact and
order-independent, so ranks are bit-identical under any partitioning
(the repo's §2.0 partition-invariance rule). Plain double accumulation
would drift with shuffle order, and DECIMAL(38,18) products overflow
Spark's 38-digit cap and silently re-round to a coarse scale (measured:
0.2% mass drift over 10 iterations) — longs do neither.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_management_and_analytics_spark.plans.registry import register
from big_data_management_and_analytics_spark.sources.io import checkpoint, load

# Fixed-point scale: ranks sum to ~SCALE; per-node ranks ≤ SCALE fit a
# long, and the damping step computes mass DIV 100 * 85 (shed two digits
# BEFORE the multiply so 1600 nodes × SCALE × 85 stays < 2^63).
SCALE = 1_000_000_000_000_000


def _pagerank_oracle(iters: int = 10) -> str:
    """DuckDB oracle: the identical integer fixed-point power iteration,
    unrolled into chained CTEs (r1..r10). Every operation is a long
    floor-division or exact long sum on non-negative values, so DuckDB's
    ``//`` reproduces Spark's ``DIV`` bit-for-bit — an iterative graph
    algorithm hash-verified end-to-end."""
    tele = f"{SCALE * 15 // 100}"
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
        r{i} AS (
            SELECT e.dst AS src,
                   (SELECT t FROM tele)
                   + (SUM(r.rank_fp // e.out_deg) // 100) * 85 AS rank_fp
            FROM edgew e JOIN r{i - 1} r ON r.src = e.src
            GROUP BY e.dst
        )""")
    return f"""
        WITH pairs AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
        tele AS (
            SELECT {tele} // COUNT(*) AS t, {SCALE} // COUNT(*) AS r_init
            FROM deg
        ),
        edgew AS (
            SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d USING (src)
        ),
        r0 AS (
            SELECT src, (SELECT r_init FROM tele) AS rank_fp FROM deg
        ),{",".join(steps)}
        SELECT src // 2 AS node_id,
               CASE WHEN src % 2 = 1 THEN 'supplier'
                    ELSE 'customer' END AS node_type,
               ROUND(rank_fp / {float(SCALE)!r}, 8) AS pagerank
        FROM r{iters}
    """


@register(
    "graph_pagerank",
    "G",
    oracle=_pagerank_oracle(),
    doc=(
        "PageRank over the undirected customer↔supplier purchase graph "
        "(edge = customer ordered a lineitem shipped by supplier; both "
        "directions, so the walk is reversible and no node dangles). "
        "10 power iterations, damping 0.85, in integer fixed-point at "
        "10^-15 scale: floor divisions are deterministic and long sums "
        "exact, so ranks are partition-invariant where double "
        "accumulation would drift (floor loss only ever SHRINKS mass, "
        "bounded by edges·10^-15 per pass — asserted in tests). The "
        "distinct pair set materializes once (checkpoint) and the "
        "degree is folded into the edge table by ONE broadcast join "
        "before the loop; each pass is one edge⋈rank join plus one "
        "partial-aggregated dst groupBy, with the rank table "
        "plan-truncated every 2nd iteration so Catalyst never re-plans "
        "the loop's history (see module docstring). The fixed-point "
        "arithmetic makes even this iterative ranking hash-verifiable: "
        "the oracle unrolls the identical 10 passes as chained CTEs "
        "(oracle-tier); tests additionally assert rank-mass conservation "
        "and supplier/customer rank separation."
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Distinct customer↔supplier pairs; tag node ids into one space.
    # Materialized ONCE — five downstream branches (edges both ways, the
    # degree aggregate, the edge fold, the node list) would otherwise
    # each recompute the join+distinct.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .transform(checkpoint)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = deg.select("src")
    n_nodes = nodes.count()
    # Fold the degree into the edge table ONCE via broadcast (n_nodes
    # rows — tiny beside the edge list) instead of a second join every
    # iteration; checkpoint so the loop reads materialized edges.
    # repartition("src") BEFORE the checkpoint (r6): a checkpoint
    # preserves output partitioning, so every iteration's edgew⋈ranks
    # join reuses this one-time shuffle instead of re-exchanging the
    # full edge table ten times — the "reuse a partitioning across
    # stages" pattern; at cluster scale this is the difference between
    # 1 and 11 shuffles of the edge list.
    edgew = (
        edges.join(F.broadcast(deg), "src")
        .select("src", "dst", "out_deg")
        .repartition("src")
        .transform(checkpoint)
    )
    teleport_fp = (SCALE * 15 // 100) // n_nodes  # (1-α)/n at fixed point

    ranks = nodes.select(
        "src", F.lit(SCALE // n_nodes).cast("long").alias("rank_fp")
    ).transform(checkpoint)
    for it in range(10):
        contribs = edgew.join(ranks, "src").select(
            "dst", F.expr("rank_fp DIV out_deg").alias("w")
        )
        ranks = (
            contribs.groupBy(F.col("dst").alias("src"))
            .agg(F.sum("w").alias("in_mass"))
            .select(
                "src",
                (
                    F.lit(teleport_fp) + F.expr("in_mass DIV 100") * 85
                ).cast("long").alias("rank_fp"),
            )
        )
        # Truncate the plan every 2nd pass (and on the last): bounded
        # plan depth, half the materialization jobs.
        if (it + 1) % 2 == 0 or it == 9:
            ranks = ranks.transform(checkpoint)
    is_supp = F.col("src") % 2 == 1
    return ranks.select(
        (F.col("src") / 2).cast("long").alias("node_id"),
        F.when(is_supp, F.lit("supplier")).otherwise(F.lit("customer")).alias(
            "node_type"
        ),
        F.round(F.col("rank_fp") / F.lit(float(SCALE)), 8).alias("pagerank"),
    )


@register(
    "graph_triangle_count",
    "G",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
            FROM lineitem l1
            JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_suppkey < l2.l_suppkey
            JOIN orders ON o_orderkey = l1.l_orderkey
            WHERE o_totalprice > 480000
        ),
        deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT a AS v FROM pairs
                UNION ALL
                SELECT b AS v FROM pairs
            ) GROUP BY v
        ),
        tri AS (
            SELECT COUNT(*) AS t FROM pairs e1
            JOIN pairs e2 ON e2.a = e1.b
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
               CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
               ROUND(3.0 * (SELECT t FROM tri)
                     / (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)
                   AS clustering
    """,
    doc=(
        "Triangle count + global clustering coefficient over the supplier "
        "co-purchase graph (edge = two suppliers serve the same premium "
        "order, o_totalprice > 480k to keep the projection sparse). The "
        "id-ordered edge orientation (a < b) makes each triangle a "
        "UNIQUE (a<b<c) chain, so the count is two equi-joins over the "
        "oriented edge list — the standard distributed formulation; at "
        "100 TB the refinement is degree-based orientation (orient each "
        "edge toward the higher-degree endpoint, bounding per-vertex "
        "fan-out by sqrt(2m)), which changes only the orientation "
        "expression. Clustering = 3*triangles / wedges with wedges = "
        "sum over vertices of C(deg, 2); all-integer until the terminal "
        "rounded division."
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 480000)
        .select("o_orderkey")
    )
    l1 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", F.col("l_suppkey").alias("a")
    )
    l2 = li.select("l_orderkey", F.col("l_suppkey").alias("b"))
    pairs = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        # Materialized once: consumed by three join branches + the degree
        # aggregate (same discipline as the pagerank pair set).
        .transform(checkpoint)
    )
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("w")
    )
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"], "left_semi")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("e"))
    return (
        n_edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            F.col("e").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.round(F.lit(3.0) * F.col("t") / F.col("w"), 6).alias("clustering"),
        )
    )


@register(
    "graph_link_prediction",
    "L",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        deg AS (SELECT s, COUNT(*) AS d FROM pairs GROUP BY s),
        common AS (
            SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS n_common
            FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
            GROUP BY a.s, b.s
        )
        SELECT s_a, s_b, CAST(n_common AS BIGINT) AS n_common,
               ROUND(CAST(n_common AS DOUBLE)
                     / (da.d + db.d - n_common), 6) AS jaccard
        FROM common
        JOIN deg da ON da.s = s_a
        JOIN deg db ON db.s = s_b
        QUALIFY ROW_NUMBER() OVER (
            ORDER BY CAST(n_common AS DOUBLE) / (da.d + db.d - n_common) DESC,
                     s_a ASC, s_b ASC
        ) <= 20
    """,
    doc=(
        "Common-neighbor link prediction over the supplier co-purchase "
        "graph: supplier pairs scored by Jaccard of their customer sets. "
        "Sparse formulation — the self-join runs on the CUSTOMER key, so "
        "work is sum-of-squared customer degrees (actual overlap), never "
        "the |suppliers|^2 pair space; a pair with zero shared customers "
        "is never materialized. At 100 TB hub customers dominate that "
        "sum, and the standard mitigation (cap or sample each hub's "
        "neighbor list, bounding per-key fan-out) drops in as one "
        "window filter before the self-join. Top-20 via "
        "TakeOrderedAndProject with a total (jaccard, s_a, s_b) order."
    ),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(checkpoint)  # three consumers below
    )
    deg = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = pairs.select(F.col("c"), F.col("s").alias("s_a"))
    b = pairs.select(F.col("c"), F.col("s").alias("s_b"))
    common = (
        a.join(b, ["c"])
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("s").alias("s_a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("s").alias("s_b"), F.col("d").alias("d_b"))
    jac = (
        F.col("n_common").cast("double")
        / (F.col("d_a") + F.col("d_b") - F.col("n_common"))
    )
    return (
        common.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a", "s_b", "n_common", F.round(jac, 6).alias("jaccard")
        )
        .orderBy(jac.desc(), F.col("s_a").asc(), F.col("s_b").asc())
        .limit(20)
    )


@register(
    "graph_shortest_paths",
    "G",
    oracle="""
        WITH RECURSIVE pairs AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        reach(node, d) AS (
            SELECT c_custkey * 2, 0 FROM customer WHERE c_custkey % 100 = 0
            UNION
            SELECT e.dst, r.d + 1
            FROM reach r JOIN edges e ON e.src = r.node
            WHERE r.d < 4
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(MIN(d) AS INT) AS dist,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind
        FROM reach
        GROUP BY node
    """,
    doc=(
        "Bounded-hop multi-source BFS over the customer↔supplier "
        "co-purchase graph (same bipartite edge set as graph_pagerank): "
        "min-hop distance ≤ 4 from the seed cohort (every 100th "
        "customer). Classic distributed frontier expansion: per hop, "
        "join the frontier to the edge table, anti-join against the "
        "settled distance set (only NEW nodes advance — each node is "
        "expanded exactly once, so total work is O(edges · diameter/"
        "diameter) = O(edges)), a checkpoint to keep the iterative "
        "plan depth bounded (the graph.py lineage lesson). All-integer "
        "distances — partition-order exact. The oracle is a bounded "
        "recursive CTE whose UNION-dedup enumeration of (node, d) pairs "
        "min-aggregates to the identical BFS levels. At 100 TB the "
        "frontier join shuffles by node id per hop — the standard "
        "Pregel-style plan."
    ),
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .transform(checkpoint)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        cust.filter(F.col("c_custkey") % 100 == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
        .withColumn("dist", F.lit(0))
    )
    dist = seeds.transform(checkpoint)
    frontier = dist.select("node")
    for hop in range(1, 5):
        cand = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            cand.join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .transform(checkpoint)
        )
        dist = dist.unionAll(new).transform(checkpoint)
        frontier = new.select("node")
    return dist.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("int").alias("dist"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
    )


@register(
    "graph_degree_stats",
    "G",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        degs AS (
            SELECT side, deg FROM (
                SELECT 'customer' AS side, c AS node,
                       CAST(COUNT(*) AS BIGINT) AS deg
                FROM pairs GROUP BY c
                UNION ALL
                SELECT 'supplier' AS side, s AS node,
                       CAST(COUNT(*) AS BIGINT) AS deg
                FROM pairs GROUP BY s
            )
        )
        SELECT side, deg AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM degs
        GROUP BY side, deg
        ORDER BY side, deg
    """,
    doc=(
        "Degree distribution of the customer↔supplier purchase graph, "
        "per side — the first profile any graph pipeline computes "
        "(skew here predicts the hot keys every downstream "
        "edge-shuffle must salt; graph_pagerank's broadcast-degree "
        "fold assumes exactly this shape). Distinct pairs → per-node "
        "degree count → (side, degree) histogram: two map-side-"
        "combinable hash aggregates after one shuffle join, output "
        "bounded by max-degree, integers only. The two sides reuse ONE "
        "distinct pair set (checkpoint, the module's pattern) "
        "rather than re-deriving the join per side."
    ),
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    degs = (
        pairs.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .select(F.lit("customer").alias("side"), "deg")
        .unionAll(
            pairs.groupBy("s")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
            .select(F.lit("supplier").alias("side"), "deg")
        )
    )
    return degs.groupBy("side", F.col("deg").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


K_CORE_K = 5
K_CORE_ROUNDS = 8


def _kcore_oracle(k: int = K_CORE_K, rounds: int = K_CORE_ROUNDS) -> str:
    """Unroll the peel rounds as chained CTEs (the pagerank-oracle trick:
    a fixed iteration count makes an iterative algorithm SQL-expressible;
    convergence within the bound is asserted separately in tests)."""
    parts = [
        """e0 AS MATERIALIZED (
            SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ),
        s0 AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"""
    ]
    prev = "s0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""b{i} AS MATERIALIZED (
            SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) < {k}
        ),
        s{i} AS MATERIALIZED (
            SELECT e.src, e.dst FROM {prev} e
            WHERE e.src NOT IN (SELECT src FROM b{i})
              AND e.dst NOT IN (SELECT src FROM b{i})
        )"""
        )
        prev = f"s{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT CAST(src // 2 AS BIGINT) AS node_id,
               CASE WHEN src % 2 = 1 THEN 'supplier' ELSE 'customer' END
                   AS side,
               CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM {prev} GROUP BY 1, 2"""
    )


@register(
    "graph_kcore",
    "G",
    oracle=_kcore_oracle(),
    doc=(
        f"{K_CORE_K}-core decomposition of the customer-supplier purchase "
        "graph by iterative peeling: repeatedly drop nodes whose degree "
        "is below k until a fixed point — the standard cohesion filter "
        "for 'who trades with a well-connected circle'. Each round is "
        "one degree aggregate plus two anti-joins (edges touching peeled "
        "nodes), with eager checkpoints bounding lineage exactly "
        "like graph_pagerank's loop; peeling is monotone so rounds ~ "
        "graph diameter layers, each linear in surviving edges. Oracle-"
        f"tier via {K_CORE_ROUNDS} unrolled CTE rounds — peeling is "
        "idempotent at the fixed point, so Spark's early exit and the "
        "oracle's fixed unroll agree whenever convergence lands inside "
        "the bound (asserted in tests: the last two rounds are "
        "identical). Ref pattern: Matula-Beck degeneracy peeling."
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .transform(checkpoint)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    ).transform(checkpoint)
    for _ in range(K_CORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        bad = (
            deg.filter(F.col("c") < K_CORE_K)
            .select("src")
            .transform(checkpoint)
        )
        if bad.isEmpty():
            break  # fixed point — further rounds are no-ops
        edges = (
            edges.join(bad, "src", "left_anti")
            .join(bad.select(F.col("src").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .transform(checkpoint)
        )
    else:
        # Every round peeled something. Unless the last one reached the
        # fixed point, the oracle's unroll stops at the same bound and
        # would hash-match a graph that is not the k-core, so confirm it
        # and fail loudly as llm_dedup_components does. Only a run that
        # used every round pays for this degree check.
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
        if not deg.filter(F.col("c") < K_CORE_K).isEmpty():
            raise RuntimeError(
                "graph_kcore: degree peeling did not reach its fixed point "
                f"within {K_CORE_ROUNDS} rounds; raise K_CORE_ROUNDS"
            )
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    ).select(
        (F.col("src") / 2).cast("bigint").alias("node_id"),
        F.when(F.col("src") % 2 == 1, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("side"),
        "core_degree",
    )


@register(
    "graph_modularity",
    "G",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        pn AS (
            SELECT p.c, p.s, nc.n_name AS cn, ns.n_name AS sn
            FROM pairs p
            JOIN customer cu ON p.c = cu.c_custkey
            JOIN nation nc ON cu.c_nationkey = nc.n_nationkey
            JOIN supplier su ON p.s = su.s_suppkey
            JOIN nation ns ON su.s_nationkey = ns.n_nationkey
        ),
        m AS (SELECT COUNT(*) AS m FROM pn),
        ends AS (
            SELECT cn AS community FROM pn
            UNION ALL SELECT sn FROM pn
        ),
        deg AS (
            SELECT community, CAST(COUNT(*) AS BIGINT) AS degree_sum
            FROM ends GROUP BY community
        ),
        intra AS (
            SELECT cn AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
            FROM pn WHERE cn = sn GROUP BY cn
        ),
        nodes AS (
            SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM (
                SELECT DISTINCT cn AS community, 'c' AS kind, c AS id FROM pn
                UNION
                SELECT DISTINCT sn, 's', s FROM pn
            ) GROUP BY community
        )
        SELECT d.community, n.n_nodes, COALESCE(i.intra_edges, 0)::BIGINT
                   AS intra_edges,
               d.degree_sum,
               ROUND(COALESCE(i.intra_edges, 0)::DOUBLE / m.m
                     - (d.degree_sum::DOUBLE / (2 * m.m))
                       * (d.degree_sum::DOUBLE / (2 * m.m)), 6)
                   AS contribution
        FROM deg d
        JOIN nodes n USING (community)
        LEFT JOIN intra i USING (community)
        CROSS JOIN m
    """,
    doc=(
        "Modularity audit of a community partition (Newman Q, per-"
        "community contributions): nations as communities over the "
        "customer↔supplier purchase graph — Q_c = e_c/m − (d_c/2m)², "
        "summing to the partition's modularity. This is the quality "
        "score pipelines compute AFTER any clustering/community step "
        "(the graph sibling of llm_ann_recall's in-engine audit "
        "pattern): all inputs are exact integer counts (intra-community "
        "edges, degree endpoints, m), the only floats are the final "
        "per-community round-6 expressions, so the score is partition-"
        "invariant and hash-verifiable. Plan: the distinct pair set "
        "materializes once (lazy checkpoint — four consumer "
        "subplans), nations attach via broadcast dims, and every "
        "aggregate is a partial-agg hash groupBy on a ≤25-key community "
        "column; the single 1-row m broadcast is the counters-not-data "
        "pattern. Linear in edges at any scale."
    ),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    pn = (
        pairs.join(cu, pairs.c == cu.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("cnk"),
                                 F.col("n_name").alias("cn"))),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(F.broadcast(su), pairs.s == su.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                                 F.col("n_name").alias("sn"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .select("c", "s", "cn", "sn")
        .transform(checkpoint, eager=False)
    )
    m = pn.agg(F.count(F.lit(1)).alias("m"))
    ends = pn.select(F.col("cn").alias("community")).unionAll(
        pn.select(F.col("sn").alias("community"))
    )
    deg = ends.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree_sum")
    )
    intra = (
        pn.filter(F.col("cn") == F.col("sn"))
        .groupBy(F.col("cn").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    nodes = (
        pn.select(F.col("cn").alias("community"), F.lit("c").alias("kind"),
                  F.col("c").alias("id"))
        .union(
            pn.select(F.col("sn"), F.lit("s"), F.col("s"))
        )
        .distinct()
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    ie = F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint")
    half = F.col("degree_sum").cast("double") / (2 * F.col("m"))
    return (
        deg.join(nodes, "community")
        .join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            ie.alias("intra_edges"),
            "degree_sum",
            F.round(
                ie.cast("double") / F.col("m") - half * half, 6
            ).alias("contribution"),
        )
    )


@register(
    "graph_assortativity",
    "G",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
        de AS (
            SELECT ds.d AS jd, dd.d AS kd
            FROM edges e
            JOIN deg ds ON e.src = ds.node
            JOIN deg dd ON e.dst = dd.node
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(jd) AS BIGINT) AS sj,
                   CAST(SUM(jd * kd) AS BIGINT) AS sjk,
                   CAST(SUM(jd * jd) AS BIGINT) AS sj2
            FROM de
        )
        SELECT m AS n_directed_edges, sj AS sum_src_deg,
               sjk AS sum_deg_products, sj2 AS sum_src_deg_sq,
               ROUND((m::DOUBLE * sjk - sj::DOUBLE * sj)
                     / (m::DOUBLE * sj2 - sj::DOUBLE * sj), 6)
                   AS assortativity
        FROM mom
    """,
    doc=(
        "Degree ASSORTATIVITY (Newman 2002): the Pearson correlation of "
        "endpoint degrees across edges of the customer↔supplier purchase "
        "graph — negative means hubs attach to leaves (the typical "
        "bipartite/disassortative signature), the structural summary "
        "read alongside graph_degree_stats and graph_modularity. Each "
        "undirected edge counts in both directions, which reduces the "
        "correlation to exact BIGINT moments (M, Σj, Σjk, Σj²) folded "
        "in ONE aggregate; r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²) is a "
        "single round-6 double over those exact integers. Plan: the "
        "degree table joins to the edge list twice (hash joins, "
        "AQE-splittable) and everything partial-aggregates — linear in "
        "edges, one counters-row output."
    ),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .transform(checkpoint, eager=False)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    de = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("jd")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("kd")), "dst")
    )
    mom = de.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("jd").cast("bigint").alias("sj"),
        F.sum(F.col("jd") * F.col("kd")).cast("bigint").alias("sjk"),
        F.sum(F.col("jd") * F.col("jd")).cast("bigint").alias("sj2"),
    )
    md, sjd = F.col("m").cast("double"), F.col("sj").cast("double")
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        F.col("sj").alias("sum_src_deg"),
        F.col("sjk").alias("sum_deg_products"),
        F.col("sj2").alias("sum_src_deg_sq"),
        F.round(
            (md * F.col("sjk") - sjd * F.col("sj"))
            / (md * F.col("sj2") - sjd * F.col("sj")),
            6,
        ).alias("assortativity"),
    )


@register(
    "graph_clustering_coeff",
    "G",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
            FROM lineitem l1
            JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_suppkey < l2.l_suppkey
            JOIN orders ON o_orderkey = l1.l_orderkey
            WHERE o_totalprice > 480000
        ),
        deg AS (
            SELECT v, COUNT(*) AS d FROM (
                SELECT a AS v FROM pairs
                UNION ALL
                SELECT b AS v FROM pairs
            ) GROUP BY v
        ),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM pairs e1
            JOIN pairs e2 ON e2.a = e1.b
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tcnt AS (
            SELECT v, COUNT(*) AS t FROM (
                SELECT x AS v FROM tri
                UNION ALL SELECT y AS v FROM tri
                UNION ALL SELECT z AS v FROM tri
            ) GROUP BY v
        )
        SELECT deg.v AS supplier, CAST(deg.d AS BIGINT) AS degree,
               CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_triangles,
               ROUND(CASE WHEN deg.d < 2 THEN 0.0
                          ELSE 2.0 * COALESCE(tcnt.t, 0)
                               / (deg.d * (deg.d - 1)) END, 6) AS local_cc
        FROM deg LEFT JOIN tcnt ON tcnt.v = deg.v
    """,
    doc=(
        "LOCAL CLUSTERING COEFFICIENT per vertex (Watts–Strogatz): "
        "cc(v) = 2·T(v)/(d(v)·(d(v)−1)) over the same premium-order "
        "co-supplier graph as graph_triangle_count (which reports only "
        "the GLOBAL transitivity; this is the per-node profile). The "
        "oriented a<b<c enumeration makes each triangle one join chain "
        "row; exploding its three corners + one hash aggregate gives "
        "per-vertex triangle incidence — integers end-to-end until the "
        "terminal rounded division, degree-1 vertices pinned to 0.0 "
        "(not NULL/NaN) in both engines. Same 100 TB refinement as the "
        "count: degree-based edge orientation bounds join fan-out by "
        "sqrt(2m) without changing this plan's shape."
    ),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 480000)
        .select("o_orderkey")
    )
    l1 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", F.col("l_suppkey").alias("a")
    )
    l2 = li.select("l_orderkey", F.col("l_suppkey").alias("b"))
    pairs = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        # One materialization feeds the three triangle branches + degrees
        # (graph_triangle_count's discipline).
        .transform(checkpoint)
    )
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])  # inner: edges are distinct
    tcnt = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tcnt, "v", "left")
        .select(
            F.col("v").alias("supplier"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(F.col("d") < 2, F.lit(0.0)).otherwise(
                    F.lit(2.0)
                    * F.coalesce(F.col("t"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1))
                ),
                6,
            ).alias("local_cc"),
        )
    )


@register(
    "graph_hits",
    "G",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_custkey IS NOT NULL
        ),
        cn AS (SELECT COUNT(DISTINCT c) AS nc FROM edges),
        h0 AS (
            SELECT DISTINCT c, 1.0 / cn.nc AS h FROM edges CROSS JOIN cn
        ),
        a1r AS (
            SELECT e.s, SUM(CAST(ROUND(h0.h, 9) AS DECIMAL(38,9))) AS a
            FROM edges e JOIN h0 ON h0.c = e.c GROUP BY e.s
        ),
        a1t AS (SELECT SUM(a) AS t FROM a1r),
        a1 AS (
            SELECT s, CAST(a AS DOUBLE) / CAST(t AS DOUBLE) AS a
            FROM a1r CROSS JOIN a1t
        ),
        h1r AS (
            SELECT e.c, SUM(CAST(ROUND(a1.a, 9) AS DECIMAL(38,9))) AS h
            FROM edges e JOIN a1 ON a1.s = e.s GROUP BY e.c
        ),
        h1t AS (SELECT SUM(h) AS t FROM h1r),
        h1 AS (
            SELECT c, CAST(h AS DOUBLE) / CAST(t AS DOUBLE) AS h
            FROM h1r CROSS JOIN h1t
        ),
        a2r AS (
            SELECT e.s, SUM(CAST(ROUND(h1.h, 9) AS DECIMAL(38,9))) AS a
            FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.s
        ),
        a2t AS (SELECT SUM(a) AS t FROM a2r),
        a2 AS (
            SELECT s, CAST(a AS DOUBLE) / CAST(t AS DOUBLE) AS a
            FROM a2r CROSS JOIN a2t
        ),
        h2r AS (
            SELECT e.c, SUM(CAST(ROUND(a2.a, 9) AS DECIMAL(38,9))) AS h
            FROM edges e JOIN a2 ON a2.s = e.s GROUP BY e.c
        ),
        h2t AS (SELECT SUM(h) AS t FROM h2r),
        h2 AS (
            SELECT c, CAST(h AS DOUBLE) / CAST(t AS DOUBLE) AS h
            FROM h2r CROSS JOIN h2t
        ),
        ranked AS (
            SELECT 'authority' AS role, s AS node_id, ROUND(a, 6) AS score,
                   ROW_NUMBER() OVER (ORDER BY a DESC, s ASC) AS rnk
            FROM a2
            UNION ALL
            SELECT 'hub', c, ROUND(h, 6),
                   ROW_NUMBER() OVER (ORDER BY h DESC, c ASC)
            FROM h2
        )
        SELECT role, CAST(node_id AS BIGINT) AS node_id, score,
               CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= 10
    """,
    doc=(
        "HITS hubs & authorities (Kleinberg, JACM 1999) on the directed "
        "customer→supplier purchase graph: 2 unrolled mutual-"
        "reinforcement iterations (authority = Σ hub scores of "
        "in-neighbors, hub = Σ authority of out-neighbors), L1-"
        "normalized each half step so the chain needs no sqrt. Each "
        "half-step's terms are ROUND(...,9)→DECIMAL(38,9) before the "
        "per-node sum (the events_markov_stationary power-iteration "
        "discipline), so the DuckDB CTE chain replays the identical "
        "trace. Complements graph_pagerank (single eigenvector, "
        "undirected-ish) with the bipartite-role decomposition. Work "
        "per half-step is one equi-join on the edge relation + one "
        "hash aggregate — the pagerank shape; the top-10 windows run "
        "on node-count relations. The small 2-iteration count is the "
        "unrolled-oracle contract, not a convergence claim."
    ),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(checkpoint)  # 4 half-steps + the node inits
    )
    # (r6 A/B, kept single-copy: per-key pre-partitioned edge copies
    # measured a wash here — 2 extra materialization jobs vs 4 saved
    # exchanges of a ~100k-row relation; see graph_pagerank for the
    # variant that DOES pay, where the repartition folds into an
    # already-required checkpoint at zero extra jobs.)
    cn = edges.select("c").distinct().agg(F.count(F.lit(1)).alias("nc"))
    h = (
        edges.select("c")
        .distinct()
        .crossJoin(F.broadcast(cn))
        .select("c", (F.lit(1.0) / F.col("nc")).alias("h"))
    )

    def half_step(scores: DataFrame, key_in: str, key_out: str, col: str) -> DataFrame:
        raw = (
            edges.join(scores, key_in)
            .groupBy(key_out)
            .agg(
                F.sum(
                    F.round(F.col(col), 9).cast("decimal(38,9)")
                ).alias("r")
            )
            # r7 sweep fix: raw feeds BOTH the L1 total and the
            # normalized result, and each half-step nests on the last —
            # without truncation the un-materialized plan re-evaluates
            # the whole prior chain per reference (the query's cost was
            # nearly scale-INVARIANT: ~14 s at sf0.01 vs ~12 s at
            # sf0.1 — planning/re-evaluation, not data). Checkpointing
            # the node-sized aggregate (≤ |customers|+|suppliers| rows,
            # bounded) each half-step measured 9.9 → 5.3 s at sf0.1
            # with identical output. The Observation-literal variant
            # (fusing the total into the checkpoint job, as
            # llm_dedup_components does) measured a WASH here — the
            # total agg is a cheap read of the checkpoint — so the
            # simpler scalar-subquery crossJoin stays.
            .transform(checkpoint)
        )
        tot = raw.agg(F.sum("r").alias("t"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key_out,
            (F.col("r").cast("double") / F.col("t").cast("double")).alias(col),
        )

    for _ in range(2):
        a = half_step(h.withColumnRenamed("h", "x"), "c", "s", "x").withColumnRenamed("x", "a")
        h = half_step(a.withColumnRenamed("a", "x"), "s", "c", "x").withColumnRenamed("x", "h")
    # Global top-10 rank rides the two-pass range-partitioned scan — the
    # node relations are customer/supplier-sized, so a single-partition
    # window here would be the classic global-ORDER-BY bottleneck.
    from big_data_management_and_analytics_spark.operators.global_rank import (
        with_global_row_number,
    )

    auth = with_global_row_number(
        a, [F.col("a").desc(), F.col("s").asc()], rn="rnk"
    ).filter(F.col("rnk") <= 10).select(
        F.lit("authority").alias("role"),
        F.col("s").cast("bigint").alias("node_id"),
        F.round("a", 6).alias("score"),
        F.col("rnk").cast("int").alias("rnk"),
    )
    hub = with_global_row_number(
        h, [F.col("h").desc(), F.col("c").asc()], rn="rnk"
    ).filter(F.col("rnk") <= 10).select(
        F.lit("hub").alias("role"),
        F.col("c").cast("bigint").alias("node_id"),
        F.round("h", 6).alias("score"),
        F.col("rnk").cast("int").alias("rnk"),
    )
    return auth.unionAll(hub)


@register(
    "graph_label_propagation",
    "G",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        c1g AS (
            SELECT c, s AS lbl, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM edges GROUP BY c, s
        ),
        c1 AS (
            SELECT c, lbl
            FROM c1g
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY c ORDER BY cnt DESC, lbl ASC) = 1
        ),
        s2g AS (
            SELECT e.s, c1.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM edges e JOIN c1 ON c1.c = e.c
            GROUP BY e.s, c1.lbl
        ),
        s2 AS (
            SELECT s, lbl
            FROM s2g
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY s ORDER BY cnt DESC, lbl ASC) = 1
        ),
        c3g AS (
            SELECT e.c, s2.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM edges e JOIN s2 ON s2.s = e.s
            GROUP BY e.c, s2.lbl
        ),
        c3 AS (
            SELECT c, lbl
            FROM c3g
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY c ORDER BY cnt DESC, lbl ASC) = 1
        )
        SELECT 'supplier' AS node_kind, s AS node_id, lbl AS community
        FROM s2
        UNION ALL
        SELECT 'customer', c, lbl FROM c3
    """,
    doc=(
        "LABEL PROPAGATION community detection (Raghavan, Albert, "
        "Kumara, Phys. Rev. E 2007), bipartite semi-synchronous "
        "variant over the customer↔supplier purchase graph: labels "
        "init to supplier ids, then three alternating half-steps "
        "(C←S, S←C, C←S) each adopt the PLURALITY label among a "
        "node's neighbors — the alternation is the standard bipartite "
        "fix for synchronous LPA's two-coloring oscillation. Completes "
        "the community toolkit: components finds connectivity, "
        "modularity scores a given partition, LPA *discovers* one. "
        "Determinism: plurality = exact neighbor-label counts with the "
        "(count DESC, label ASC) total order — no randomized tie "
        "handling (the published algorithm's coin flip is replaced by "
        "min-label, the same derandomization llm_embed_kmeans uses for "
        "seeds). Plan: the distinct edge set materializes once "
        "(checkpoint, reused by all three half-steps); each "
        "half-step is one edge-keyed equi-join + count aggregate + "
        "per-node top-1 window (partitioned by node, never global) — "
        "three linear shuffles total, the same per-iteration cost "
        "profile as pagerank's loop, so the 100 TB posture is "
        "identical (label table ~n rows, edge joins shuffle-bound)."
    ),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(checkpoint)  # 3 half-step consumers
    )
    # (r6 A/B, kept single-copy: pre-partitioned per-key edge copies — the
    # graph_hits/pagerank move — measured SLOWER here: 3 half-steps save
    # only 3 small exchanges, less than the 2 extra materialization jobs
    # cost. The keyed-copy pattern needs >=4 reuses per key to pay off.)

    def plurality(df: DataFrame, node: str, lbl: str) -> DataFrame:
        # r11 (guide §2.4 — two operations keyed the same way share one
        # exchange): repartitioning on the COARSER key first lets
        # HashPartitioning(node) satisfy both the (node, lbl) aggregate's
        # clustered distribution AND the per-node ranking window, fusing
        # what were two back-to-back exchanges per half-step into one
        # (the llm_hybrid_rrf bm25 pattern). The traded-away map-side
        # partial aggregation is worth little here: the edge relation is
        # DISTINCT (c, s) pairs, so the first half-step's (node, lbl)
        # groups are all singletons pre-shuffle. Interleaved A/B at
        # sf0.1: 3.23 → 2.72 s median, 5/5 pairwise wins, identical
        # output (exceptAll both ways = 0).
        # Skew caveat (ADVICE r11): the singleton-groups argument holds
        # only for the FIRST half-step. In later half-steps (node, lbl)
        # groups can be large on skewed graphs, so forgoing map-side
        # combine shuffles one row per edge occurrence; on a cluster
        # with a power-law degree distribution, re-measure before
        # relying on this fusion beyond sf0.1 — the revert is dropping
        # the repartition() (two exchanges, map-side combine restored).
        w = Window.partitionBy(node).orderBy(
            F.col("_cnt").desc(), F.col(lbl).asc()
        )
        return (
            df.repartition(node)
            .groupBy(node, lbl)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(node, lbl)
        )

    c1 = plurality(edges.select("c", F.col("s").alias("lbl")), "c", "lbl")
    s2 = plurality(edges.join(c1, "c").select("s", "lbl"), "s", "lbl")
    c3 = plurality(edges.join(s2, "s").select("c", "lbl"), "c", "lbl")
    return s2.select(
        F.lit("supplier").alias("node_kind"),
        F.col("s").alias("node_id"),
        F.col("lbl").alias("community"),
    ).unionAll(
        c3.select(F.lit("customer"), F.col("c"), F.col("lbl"))
    )


@register(
    "graph_mst_prim",
    "G",
    oracle="""
        WITH RECURSIVE coords AS (
            SELECT n_nationkey AS k, n_name,
                   (('0x' || substr(md5('geo:n:' ||
                        CAST(n_nationkey AS VARCHAR)), 1, 15))::BIGINT
                    % 160000001) - 80000000 AS lat_u,
                   (('0x' || substr(md5('geo:n:' ||
                        CAST(n_nationkey AS VARCHAR)), 17, 15))::BIGINT
                    % 360000001) - 180000000 AS lon_u
            FROM nation
        ),
        edges AS (
            SELECT CAST(a.k AS INT) AS na, CAST(b.k AS INT) AS nb,
                   CAST(abs(a.lat_u - b.lat_u) + abs(a.lon_u - b.lon_u)
                        AS BIGINT) AS w
            FROM coords a JOIN coords b ON a.k < b.k
        ),
        base AS (
            SELECT list_sort(list({'w': w, 'na': na, 'nb': nb})) AS es,
                   CAST((SELECT COUNT(*) FROM coords) AS INT) AS n,
                   CAST(pow(2, (SELECT MIN(k) FROM coords)) AS BIGINT)
                       AS mask0
            FROM edges
        ),
        r AS (
            SELECT 0 AS i, mask0 AS mask, es, n,
                   CAST([] AS STRUCT(w BIGINT, na INT, nb INT)[]) AS chosen
            FROM base
            UNION ALL
            SELECT i + 1,
                   mask + CAST(pow(2, CASE WHEN
                       floor(mask / pow(2, pick.na)) % 2 = 1
                       THEN pick.nb ELSE pick.na END) AS BIGINT),
                   es, n,
                   list_append(chosen, pick)
            FROM (
                SELECT i, mask, es, n, chosen,
                       list_sort(list_filter(es, e ->
                           floor(mask / pow(2, e.na)) % 2
                           <> floor(mask / pow(2, e.nb)) % 2))[1] AS pick
                FROM r WHERE i < n - 1
            )
        )
        SELECT CAST(gs.s AS INT) AS step,
               chosen[gs.s].na AS nation_a,
               chosen[gs.s].nb AS nation_b,
               chosen[gs.s].w AS dist_u
        FROM r, LATERAL (
            SELECT UNNEST(generate_series(1, len(chosen))) AS s
        ) gs
        WHERE i = n - 1
    """,
    doc=(
        "MINIMUM SPANNING TREE via Prim's algorithm (Prim 1957; the "
        "backbone-extraction primitive behind network design, "
        "single-linkage clustering, and redundancy audits): the "
        "complete nation graph under L1 micro-degree distances (the "
        "join_geo_haversine md5 coordinate convention, but Manhattan "
        "instead of haversine so EVERY weight is an exact BIGINT — "
        "zero float anywhere, the ts_dtw discipline) yields the "
        "unique-under-total-order spanning tree by repeatedly taking "
        "the (w, na, nb)-minimal frontier-crossing edge. The visited "
        "set is an int64 BITMASK folded through n−1 steps; bit tests "
        "spell floor(mask/2^k) mod 2 — dyadic-exact in doubles — so "
        "the identical text runs in both engines' lambdas. Borůvka is "
        "the bulk-parallel variant; with the vertex set bounded by "
        "the nation dimension (the edges live in ONE array row), the "
        "sequential fold IS the right plan, and the distributed story "
        "is the edge materialization (a broadcast-sized dim self-join) "
        "not the fold. Output: the n−1 tree edges in pick order."
    ),
)
def graph_mst_prim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_management_and_analytics_spark.functions.portable_hash import (
        ph0_hex,
        ph1_hex,
    )

    n_ = load(spark, sf_dir, "nation").select("n_nationkey")
    hx = F.md5(F.concat(F.lit("geo:n:"), F.col("n_nationkey").cast("string")))
    coords = n_.select(
        F.col("n_nationkey").cast("int").alias("k"),
        (ph0_hex(hx) % 160000001 - 80000000).alias("lat_u"),
        (ph1_hex(hx) % 360000001 - 180000000).alias("lon_u"),
    )
    a = coords.select(
        F.col("k").alias("na"), F.col("lat_u").alias("la"),
        F.col("lon_u").alias("lo"),
    )
    b = coords.select(
        F.col("k").alias("nb"), F.col("lat_u").alias("lb"),
        F.col("lon_u").alias("lb2"),
    )
    edges = a.join(b, F.col("na") < F.col("nb")).select(
        "na",
        "nb",
        (
            F.abs(F.col("la") - F.col("lb"))
            + F.abs(F.col("lo") - F.col("lb2"))
        )
        .cast("bigint")
        .alias("w"),
    )
    base = edges.agg(
        F.sort_array(F.collect_list(F.struct("w", "na", "nb"))).alias("es"),
    ).crossJoin(
        F.broadcast(
            coords.agg(
                F.count(F.lit(1)).cast("int").alias("n"),
                F.pow(F.lit(2.0), F.min("k")).cast("bigint").alias("mask0"),
            )
        )
    )

    def bit(mask, k):
        return F.floor(mask / F.pow(F.lit(2.0), k)) % 2

    def step(acc, _i):
        crossing = F.filter(
            F.col("es"),
            lambda e: bit(acc["mask"], e["na"]) != bit(acc["mask"], e["nb"]),
        )
        pick = F.array_min(crossing)
        other = F.when(
            bit(acc["mask"], pick["na"]) == 1, pick["nb"]
        ).otherwise(pick["na"])
        return F.struct(
            (acc["mask"] + F.pow(F.lit(2.0), other).cast("bigint")).alias(
                "mask"
            ),
            F.concat(acc["chosen"], F.array(pick)).alias("chosen"),
        )

    empty = F.array().cast("array<struct<w:bigint,na:int,nb:int>>")
    folded = F.aggregate(
        F.sequence(F.lit(1), F.col("n") - 1),
        F.struct(F.col("mask0").alias("mask"), empty.alias("chosen")),
        step,
    )
    return (
        base.select(F.posexplode(folded["chosen"]).alias("pos", "e"))
        .select(
            (F.col("pos") + 1).cast("int").alias("step"),
            F.col("e.na").alias("nation_a"),
            F.col("e.nb").alias("nation_b"),
            F.col("e.w").alias("dist_u"),
        )
    )
