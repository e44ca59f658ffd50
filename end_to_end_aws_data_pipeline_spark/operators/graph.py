"""Iterative graph analytics: PageRank over the customer–supplier
bipartite graph, expressed as a driver-side loop of joins/aggregations
— the canonical "iterative algorithm on Spark" shape (companion to the
connected-components operators in operators/dedup.py).

Determinism/verification: rank arithmetic is pure int64 — initial rank
and teleport are integer constants, the per-edge contribution is an
integer floor-division by out-degree, the damping factor an integer
(85·x)//100 — so three unrolled CTE rounds in the DuckDB oracle replay
the whole computation bit-for-bit (the q_ann_ivf_trained playbook
applied to graph iteration). Float PageRank would differ in ulps by
summation order; integer PageRank is order-free.

Scale notes: each iteration is one equi-join of the rank vector against
the edge list plus one aggregate — the textbook distributed PageRank
step (edges partition by src; ranks co-partition; AQE handles the skew
of popular nodes). Iterations are persisted so execution does not
recompute. Persist alone does not stop the analyzer re-walking the
whole nested plan each round, so deeper loops truncate lineage with a
per-round localCheckpoint; the measured depth-10 wall/plan-size
numbers and the run-to-convergence stop rounds live in SCALING.md.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.cache import persisted
from end_to_end_aws_data_pipeline_spark.catalog import local_frame, table
from end_to_end_aws_data_pipeline_spark.functions import hll
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.operators.iterate import (
    LOCAL_MAX_EDGES,
    fixpoint,
    fused_ckpt,
    min_label_step,
)
from end_to_end_aws_data_pipeline_spark.registry import register

_PR_ITERS = 3
# Initial rank per node and its (1-d)·R0 teleport, d = 0.85. The scale
# bounds int64 overflow structurally: a node's contribution sum is < the
# graph's total mass n·R0, so 85·sum needs n·R0 < 2^63/85 ≈ 1.1e17 —
# R0 = 1e9 is safe to ~1e8 nodes while keeping ≥4 significant digits
# through rank//degree at degrees up to 1e5.
_PR_R0 = 1_000_000_000
_PR_TELEPORT = 150_000_000
_PR_TOP = 20

# Node namespace: customers at key*2, suppliers at key*2+1 — one id
# space, no collisions, reversible for the report.
_PR_EDGES_SQL = """
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def _pr_oracle() -> str:
    """Unrolled {_PR_ITERS}-round integer PageRank as chained CTEs."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, CAST({_PR_R0} AS BIGINT) AS rank FROM deg
)"""
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""", c{i} AS (
  SELECT e.dst AS node, sum(r.rank // d.d) AS contrib
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT node,
         CAST({_PR_TELEPORT} + (85 * contrib) // 100 AS BIGINT) AS rank
  FROM c{i}
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       rank AS rank_q
FROM {prev}
ORDER BY rank DESC, node
LIMIT {_PR_TOP}"""
    )
    return "".join(parts)


def _purchase_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (custkey*2, suppkey*2+1) purchase edges — the shared
    build for PageRank / k-hop / k-core; matches _PR_EDGES_SQL
    row-for-row. (A collect_set(supplier)-per-order variant that
    shrinks the join probe side 4x won in isolation, 3.1 s -> 2.3 s,
    but A/B-measured a wash INSIDE the full queries — the downstream
    symmetrize+distinct shuffles dominate and the pre-group adds its
    own — so the plain join stays.)"""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # pair-encode the distinct (the copurchase-edges pattern): one
    # encoded long halves the shuffle key bytes and hashes/compares as
    # a primitive; ANSI multiply fails loud if a node id ever reaches
    # 2^31 instead of silently aliasing edges
    enc = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (
                (F.col("o_custkey") * 2) * F.lit(1 << 32).cast("long")
                + (F.col("l_suppkey") * 2 + 1)
            ).alias("e")
        )
        .distinct()
    )
    return enc.select(
        F.shiftright("e", 32).alias("src"),
        F.col("e").bitwiseAND((1 << 32) - 1).alias("dst"),
    )


def _purchase_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase graph made undirected: every ``_purchase_fwd`` edge
    plus its reverse. Unpersisted — each caller picks its own
    persist/partitioning for the way its rounds join."""
    fwd = _purchase_fwd(spark, sf_dir)
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pr_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(edges_d, nodes) for PageRank over the undirected purchase graph.
    ``edges_d`` is the contribution-ready edge list (src, dst, d) built
    and persisted ONCE — each round then needs a single equi-join
    instead of re-joining (and re-aggregating) the degree table;
    ``nodes`` is the one-column (node) vector the initial ranks are
    built on."""
    edges = _purchase_sym(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    edges_d = persisted(edges.join(deg, "src").select("src", "dst", "d"))
    return edges_d, deg.select(F.col("src").alias("node"))


def _pr_round(
    edges_d: DataFrame, ranks: DataFrame, teleport: Column
) -> DataFrame:
    """One integer PageRank round: contribution join (rank floor-div
    out-degree), sum by target, damp by (85·x)//100 and add
    ``teleport`` — a Column over the target's ``node`` (a constant for
    global PageRank, seed-gated for the personalized variant)."""
    return (
        edges_d.join(ranks, edges_d["src"] == ranks["node"])
        .select("dst", F.expr("rank div d").alias("c"))
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("c").alias("contrib"))
        .select(
            "node",
            (teleport + F.expr("(85 * contrib) div 100"))
            .cast("long")
            .alias("rank"),
        )
    )


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative core: integer PageRank rank vector after
    ``_PR_ITERS`` rounds over the undirected customer–supplier purchase graph.

    Each round is persisted, so execution never recomputes an earlier
    round; the plan still nests every round, which is cheap at the
    query's 3 rounds. Past ~10 rounds analysis time (not execution)
    dominates as the logical plan grows — the depth-10 wall/plan-size
    measurements and the run-to-convergence stop rounds live in
    SCALING.md."""
    edges_d, nodes = _pr_graph(spark, sf_dir)
    ranks = nodes.select("node", F.lit(_PR_R0).cast("long").alias("rank"))
    for _ in range(_PR_ITERS):
        ranks = persisted(_pr_round(edges_d, ranks, F.lit(_PR_TELEPORT)))
    return ranks


@register("q_graph_pagerank", oracle=_pr_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank, 3 rounds, over the undirected
    customer–supplier purchase graph (edges = distinct (custkey,
    suppkey) pairs via orders⋈lineitem, both directions); returns the
    top-20 nodes by final rank.

    Each round: contribution join (rank vector ⋈ edges, floor-div by
    out-degree), aggregate by target, damp with integer arithmetic.
    The rank vector is |nodes| rows — tiny next to the edge list — and
    each round's plan is one shuffle join + one aggregate; persisting
    per round keeps lineage linear in rounds. The oracle unrolls the
    same three rounds as CTEs and replays the integer arithmetic
    exactly — the verification strategy that makes an *iterative*
    operator fully hash-checkable rather than rows-only."""
    ranks = pagerank_ranks(spark, sf_dir)
    node_type = F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier")
    return (
        ranks.select(
            node_type.alias("node_type"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            F.col("rank").alias("rank_q"),
            "node",
        )
        .orderBy(F.col("rank_q").desc(), "node")
        .limit(_PR_TOP)
        .drop("node")
    )


# ---------------------------------------------------------------------------
# degree distribution of the purchase graph
# ---------------------------------------------------------------------------

_DEGREE_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT c, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY c
)
SELECT degree,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c) AS BIGINT) AS key_checksum
FROM deg GROUP BY degree
"""


@register("q_graph_degree_dist", oracle=_DEGREE_ORACLE)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer→supplier purchase graph —
    the first summary any graph workload computes (skew detection for
    partitioning decisions, power-law checks, supernode discovery
    before joins explode). Distinct edges first (the DISTINCT is the
    graph-building step: multi-purchases collapse to one edge), then
    two combinable aggregates; the heavy shuffle is the edge
    distinct, keyed on the pair, and everything after runs on
    |vertices| then |distinct degrees| rows.

    The key checksum per degree pins WHICH customers sit at each
    degree, so a dropped or duplicated edge cannot hide in the
    histogram shape.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("c").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# triangle counting (oriented wedge join — Suri & Vassilvitskii WWW'11)
# ---------------------------------------------------------------------------

# part co-purchase graph: two parts are adjacent if some order contains
# both. Canonical a < b edges; per-order pair fan-out is C(items, 2)
# with ~4 items per order — bounded, unlike a customer-level projection.
_TRI_EDGES_SQL = """
  SELECT DISTINCT la.l_partkey AS a, lb.l_partkey AS b
  FROM lineitem la JOIN lineitem lb ON la.l_orderkey = lb.l_orderkey
  WHERE la.l_partkey < lb.l_partkey
"""

_TRI_ORACLE = f"""
WITH e AS ({_TRI_EDGES_SQL}),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
tri AS (
  SELECT count(*) AS n_tri
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
       ON e3.a = e1.a AND e3.b = e2.b
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT agg.n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       agg.n_wedges,
       CAST(tri.n_tri AS BIGINT) AS n_triangles,
       floor(3.0 * tri.n_tri / agg.n_wedges * 1000000 + 0.5) / 1000000
         AS global_clustering
FROM agg CROSS JOIN tri
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical (a < b) part co-purchase edges, persisted.

    Built WITHOUT a lineitem self-join: group parts per order (bounded —
    TPC-H orders hold ≤7 line items, and any real basket fits a task)
    and expand ordered pairs from the sorted set map-side; one shuffle
    (the groupBy) instead of the join's exchange+join, measured
    3.8 s -> 2.8 s at sf0.1 for the same 1.196M distinct edges."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    # pair-encode BEFORE the distinct: one long (a·2^32 + b, a < b)
    # halves the shuffle key bytes and compares/hashes as a single
    # primitive — the distinct over 1.2M encoded pairs measured
    # 1.58 -> 1.34 s warm at sf0.1 vs the struct form. ANSI multiply
    # throws on overflow, so a part key ≥ 2^31 fails LOUD here instead
    # of silently aliasing pairs (sf10 keys top out ~2e7; a deployment
    # with wider keys re-encodes on 2 longs).
    enc = ps.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice("ps", i + 2, F.size("ps")),
                        lambda y: x * F.lit(1 << 32).cast("long") + y,
                    ),
                )
            )
        ).alias("e")
    ).distinct()
    return persisted(
        enc.select(
            F.shiftright("e", 32).alias("a"),
            F.col("e").bitwiseAND((1 << 32) - 1).alias("b"),
        )
    )


def _degree_oriented(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg, oriented): per-node degree of the undirected edge set, and
    every edge oriented from the lower-(degree, id) endpoint to the
    higher — the Suri & Vassilvitskii WWW'11 orientation that caps
    per-node out-degree at O(√E). Both persisted."""
    deg = persisted(
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    lower_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = persisted(
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    return deg, oriented


def _tri_count(oriented: DataFrame, alias: str) -> DataFrame:
    """1-row exact triangle count via the edge-iterator (compact-forward,
    Latapy TCS'08 / Schank & Wagner WEA'05) on the degree-oriented DAG:
    for each oriented edge (u, v), |N⁺(u) ∩ N⁺(v)| closes exactly the
    triangles whose apex is u (each triangle has exactly one node with
    out-degree 2 inside it under a total-order orientation, so the sum
    is exact with no ×3 correction and no x<y dedup).

    Why not a wedge self-join + closure semi-join: at sf0.1 the oriented
    wedge set is 41M rows for 1.2M edges — the self-join shuffles and
    materializes all of them before the edge probe discards 98%
    (measured 7.6 s). Here the adjacency list is grouped once
    (out-degree capped at O(√E) by the orientation, so the arrays are
    bounded), each edge carries two arrays through an intersect, and
    nothing wedge-sized is ever exchanged: measured 7.6 -> 4.8 s at
    sf0.1 for the identical count. At cluster scale both adj joins
    shuffle Σ d_out(u)+d_out(v) ≤ 2·E·√E array elements — the same
    upper bound as the wedge stream but without the 41M-row exchange
    and edge-set hash build."""
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    au = adj.select(F.col("src").alias("u_"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v_"), F.col("nbrs").alias("nv"))
    return (
        oriented.join(au, F.col("src") == F.col("u_"), "inner")
        .join(av, F.col("dst") == F.col("v_"), "left")
        .select(
            F.when(F.col("nv").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect("nu", "nv")))
            .alias("c")
        )
        .agg(F.sum("c").cast("long").alias(alias))
    )


@register("q_graph_triangles", oracle=_TRI_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts adjacent iff some order holds both).

    Degree orientation (Suri & Vassilvitskii, "Counting Triangles and
    the Curse of the Last Reducer", WWW'11) caps per-node out-degree at
    O(√E); closure is the edge-iterator intersect (`_tri_count`) rather
    than a wedge self-join — see its docstring for the measured 41M-row
    wedge-materialization cost this avoids. The plain a<b<c three-way
    self-join the ORACLE runs is the same count but its wedge fan-out
    is d² at the hubs — the curse the orientation exists to lift; on
    10⁹-edge graphs only the oriented form finishes.

    Count/wedge arithmetic is pure integers; the one clustering-
    coefficient division runs once on identical operands."""
    e = _copurchase_edges(spark, sf_dir)
    deg, oriented = _degree_oriented(e)
    tri = _tri_count(oriented, "n_tri")
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    ecnt = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        agg.crossJoin(ecnt)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            stable_round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-hop BFS reachability (bounded-depth frontier expansion)
# ---------------------------------------------------------------------------

_KHOP_SEED_MOD = 97  # seeds: customers with custkey % 97 == 0
_KHOP_DEPTH = 3

_KHOP_ORACLE = f"""
WITH fwd AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), edges AS (
  SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
), h0 AS (
  SELECT DISTINCT src AS node FROM edges
  WHERE src % 2 = 0 AND (src // 2) % {_KHOP_SEED_MOD} = 0
), h1 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 ON e.src = h0.node
  WHERE e.dst NOT IN (SELECT node FROM h0)
), h2 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON e.src = h1.node
  WHERE e.dst NOT IN (SELECT node FROM h0)
    AND e.dst NOT IN (SELECT node FROM h1)
), h3 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON e.src = h2.node
  WHERE e.dst NOT IN (SELECT node FROM h0)
    AND e.dst NOT IN (SELECT node FROM h1)
    AND e.dst NOT IN (SELECT node FROM h2)
)
SELECT hop, CAST(n AS BIGINT) AS n_reached,
       CAST(ck AS BIGINT) AS key_checksum
FROM (
  SELECT 0 AS hop, count(*) AS n, sum(node) AS ck FROM h0
  UNION ALL SELECT 1, count(*), sum(node) FROM h1
  UNION ALL SELECT 2, count(*), sum(node) FROM h2
  UNION ALL SELECT 3, count(*), sum(node) FROM h3
)
WHERE n > 0
"""


@register("q_graph_khop", oracle=_KHOP_ORACLE)
def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS: nodes first reached at hop 1..3 from a seed
    set of customers, over the undirected purchase graph — the shape
    behind blast-radius, fraud-ring and recommendation expansions.

    The state is ``visited(node, hop)``, one row per reached node
    carrying the hop that first reached it. Per hop: the frontier
    (last hop's rows) ⋈ edges (equi-join on the node key, shuffle
    spread by node cardinality) → distinct → LEFT ANTI against
    visited, i.e. delta-BFS: only the *new* frontier joins edges, and
    visited grows by union under one eager checkpoint per hop, so
    lineage stays flat; the checkpoint's own action counts the new
    hop, and an empty one ends the loop. The result is one aggregate
    over the final state; an empty hop has no rows, so it drops out as
    the oracle's ``n > 0`` drops it. Per-hop key checksums pin WHICH
    nodes are first reached at each depth, not just how many.
    """
    edges = persisted(_purchase_sym(spark, sf_dir))
    visited = (
        edges.select("src")
        .filter(
            (F.col("src") % 2 == 0)
            & (F.expr(f"(src div 2) % {_KHOP_SEED_MOD}") == 0)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for hop in range(1, _KHOP_DEPTH + 1):
        frontier = visited.filter(F.col("hop") == hop - 1)
        nxt = (
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hop", F.lit(hop).cast("long"))
        )
        obs = Observation()
        visited = (
            visited.unionAll(nxt)
            .observe(obs, F.count(F.when(F.col("hop") == hop, 1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if not obs.get["n"]:
            break  # empty frontier: every deeper hop is empty too
    return visited.groupBy("hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("node").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel): the density filter behind
# community mining, spam/bot subgraph isolation, and graph sampling
# ---------------------------------------------------------------------------

_KCORE_K = 30
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peel: each round drops nodes whose CURRENT degree is
    below k, then induces the surviving subgraph."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), g0 AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
)"""
    ]
    rows = []
    prev = "g0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", d{i} AS (
  SELECT src, count(*) AS d FROM {prev} GROUP BY src
), rm{i} AS (
  SELECT src FROM d{i} WHERE d < {_KCORE_K}
), g{i} AS (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src NOT IN (SELECT src FROM rm{i})
    AND e.dst NOT IN (SELECT src FROM rm{i})
)"""
        )
        rows.append(
            f"""
SELECT {i} AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM rm{i}) AS n_removed,
       (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM g{i}) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM g{i}) // 2 AS n_edges,
       (SELECT CAST(coalesce(sum(DISTINCT src), 0) AS BIGINT) FROM g{i})
         AS node_checksum"""
        )
        prev = f"g{i}"
    return "".join(parts) + "\nUNION ALL".join(rows)


def _kcore_peel(g: DataFrame, rm: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One synchronous peel: drop the removal set ``rm`` (the persisted
    sub-k nodes; both anti-joins read it, and Spark broadcasts it once
    it fits) from the edge list ``g``, then re-degree the induced
    subgraph. Returns the (edges, degree vector) pair; both are
    ``fused_ckpt``-ed, so they materialize inside the caller's next
    action (the query's per-round stats collect) instead of costing
    actions of their own."""
    g = fused_ckpt(
        g.join(rm, "src", "left_anti")
        .join(rm.select(F.col("src").alias("dst")), "dst", "left_anti")
    )
    return g, fused_ckpt(g.groupBy("src").agg(F.count(F.lit(1)).alias("d")))


@register("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peel (k=30, 4 synchronous rounds) of the
    customer-supplier purchase graph — the density filter that
    isolates the stable trading core (and, on web/social graphs, the
    spam-farm / bot-cluster detector). Each round drops every node
    whose CURRENT degree is below k and induces the surviving
    subgraph; the published per-round trajectory (removed, nodes,
    edges, node-id checksum) is exactly what a convergence monitor
    watches, and the checksum pins WHICH nodes survive, not just how
    many.

    Synchronous peeling is deterministic (no tie-breaking: all sub-k
    nodes drop together), so the DuckDB oracle replays the rounds as
    unrolled CTEs bit-for-bit. Fixed round count = bounded plan depth;
    to full convergence, the loop continues until rm is empty (the
    measured stop rounds are in SCALING.md).

    Scale shape per round: one combinable degree aggregate + two
    left_anti hash joins against the (small, shrinking) removal set —
    Spark broadcasts it once it fits; nothing quadratic, no windows.
    Each round's induced edge list persists (MEMORY_AND_DISK) so the
    next round reads a materialized graph, not a re-derivation."""
    g = persisted(_purchase_sym(spark, sf_dir))
    # The NODE-sized degree table carries everything each round needs:
    # the peel set (d < k) and the round's published stats (n_nodes =
    # rows, n_edges = sum(d)/2, checksum = sum(src); src is unique per
    # deg row, so no DISTINCT pass over edges). Two edge-sized passes
    # per round (induce + re-degree), everything else node-sized.
    #
    # The per-round stats are fetched EAGERLY (5 int64 per round — the
    # audited bounded-collect pattern this engine uses for all iterative
    # algorithms: BPE merge rounds, percentile bin search). Lazily
    # unioning all rounds into one plan re-embeds every prior round's
    # lineage under each stats leaf — the optimizer tree grows
    # super-linearly and planning (not execution) dominated; measured
    # 24.7 s lazy-union vs 3.5 s eager at sf0.1. Eager collection also
    # keeps each round's anti-join visible to AQE as a fresh small
    # relation (runtime broadcast).
    # localCheckpoint per round TRUNCATES lineage (the depth study in
    # SCALING.md): without it the logical plan grows per
    # round and optimizer/cache-lookup time escalated 1.2 s -> 12.5 s
    # for the IDENTICAL per-round degree aggregate by round 4 at sf0.1.
    deg = g.groupBy("src").agg(F.count(F.lit(1)).alias("d"))

    # round stats AND the next round's peel-set size from ONE bounded
    # collect: n_removed of round i is the count of sub-k degrees in
    # round i-1's degree table, so folding `n_below` into the stats
    # aggregate replaces the per-round rm.count() job (4 jobs saved
    # across the fixed-R loop; the round-8 tiny-relation rule applied
    # to job COUNT instead of relation algebra)
    def _stats(d: DataFrame):
        return d.agg(
            (F.coalesce(F.sum("d"), F.lit(0)) / 2)
            .cast("long")
            .alias("n_edges"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.coalesce(F.sum("src"), F.lit(0))
            .cast("long")
            .alias("node_checksum"),
            F.coalesce(
                F.sum(F.when(F.col("d") < _KCORE_K, 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_below"),
        ).collect()[0]

    rows = []
    cur = _stats(deg)
    for i in range(1, _KCORE_ROUNDS + 1):
        n_removed = int(cur["n_below"])
        if n_removed == 0:
            # fixpoint: an empty peel set leaves the graph (and every
            # published statistic) bit-identical — skip the edge-sized
            # induce/re-degree and republish the converged state. The
            # oracle's unrolled round produces exactly the same row.
            rows.append(
                (i, 0, cur["n_nodes"], cur["n_edges"], cur["node_checksum"])
            )
            continue
        rm = persisted(deg.filter(F.col("d") < _KCORE_K).select("src"))
        g, deg = _kcore_peel(g, rm)
        cur = _stats(deg)
        rows.append(
            (i, n_removed, cur["n_nodes"], cur["n_edges"], cur["node_checksum"])
        )
    return local_frame(
        spark, rows,
        "round long, n_removed long, n_nodes long, n_edges long, "
        "node_checksum long",
    )


# ---------------------------------------------------------------------------
# DOULION sampled triangle count: the 100 TB path for dense graphs
# ---------------------------------------------------------------------------

_DLN_P_INV = 4  # keep each edge with probability 1/4 (deterministic)

_DLN_ORACLE = f"""
WITH e0 AS ({_TRI_EDGES_SQL}),
e AS (
  SELECT a, b FROM e0
  WHERE CAST(('0x' || substr(md5(a || '-' || b), 1, 15)) AS BIGINT)
        % {_DLN_P_INV} = 0
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tri
  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
       ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges_sampled,
       tri.n_tri AS n_tri_sampled,
       CAST(tri.n_tri * {_DLN_P_INV ** 3} AS BIGINT) AS n_triangles_est
FROM tri
"""


@register("q_graph_triangles_doulion", oracle=_DLN_ORACLE)
def q_graph_triangles_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle count (Tsourakakis et al., KDD'09) —
    the scale path for the exact oriented-wedge count above: keep each
    edge with probability p = 1/4 and scale the sampled
    subgraph's exact count by 1/p³. Wedge volume grows with degree², so
    sampling cuts the dominant cost by ~p² on dense graphs — at this
    corpus's sf1 the exact count's wedge join is 6× super-unit while
    the sampled subgraph's is ~4² smaller; on a 100 TB
    co-occurrence graph this is the difference between feasible and
    not (accuracy is tunable: variance ∝ 1/p³, and the estimator is
    unbiased for any p).

    DETERMINISTIC sampling: the keep decision is an md5 hash of the
    edge key mod 4 — no RNG, identical in both engines, so
    the oracle replays the sample AND the estimate bit-for-bit, and
    the relative-error-vs-exact property is pinned in tests rather
    than asserted probabilistically.

    Same engine as the exact query: (degree, id) orientation on the
    SAMPLED subgraph, edge-iterator closure (`_tri_count`)."""
    e0 = _copurchase_edges(spark, sf_dir)
    e = persisted(
        e0.filter(
            F.expr(
                "cast(conv(substring(md5(concat_ws('-', a, b)), 1, 15),"
                f" 16, 10) as bigint) % {_DLN_P_INV} = 0"
            )
        )
    )
    _, oriented = _degree_oriented(e)
    tri = _tri_count(oriented, "n_tri_sampled")
    return (
        e0.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(
            e.agg(F.count(F.lit(1)).cast("long").alias("n_edges_sampled"))
        )
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_edges_sampled",
            "n_tri_sampled",
            (F.col("n_tri_sampled") * _DLN_P_INV**3)
            .cast("long")
            .alias("n_triangles_est"),
        )
    )


# ---------------------------------------------------------------------------
# label propagation communities (Raghavan/Albert/Kumara 2007),
# synchronous rounds with a total deterministic tie-break
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3
_LPA_TOP = 20
# argmax encoding: vote = cnt * B + (B-1-lbl), so MAX(vote) picks the
# highest count and, among ties, the SMALLEST label — one pure-long
# hash aggregate instead of a per-node sort window. Requires node ids
# < B and degree < 2^62/B; both asserted where edges are built.
_LPA_B = 1 << 32


def _lpa_oracle() -> str:
    """Unrolled {_LPA_ROUNDS}-round synchronous LPA as chained CTEs:
    each round counts neighbor labels and takes, per node, the label
    with (count DESC, label ASC) via row_number — the identical rule
    the engine's window uses, so label vectors replay exactly."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), edges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
)"""
    ]
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""", v{i} AS MATERIALIZED (
  SELECT node, lbl, CAST(sum(c) AS BIGINT) AS cnt FROM (
    SELECT e.src AS node, l.lbl, 1 AS c
    FROM edges e JOIN {prev} l ON l.node = e.dst
    UNION ALL
    SELECT node, lbl, 1 AS c FROM {prev}
  ) GROUP BY node, lbl
), l{i} AS MATERIALIZED (
  SELECT node,
         {_LPA_B - 1} - (max(cnt * {_LPA_B} + ({_LPA_B - 1} - lbl))
                         & {_LPA_B - 1}) AS lbl
  FROM v{i} GROUP BY node
)"""
        )
        prev = f"l{i}"
    parts.append(
        f"""
SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, lbl) AS INT)
         AS rank,
       CAST(lbl AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS n_members
FROM {prev}
GROUP BY lbl
ORDER BY count(*) DESC, lbl
LIMIT {_LPA_TOP}"""
    )
    return "".join(parts)


def _lpa_setup(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(edges, labels0) for label propagation over the undirected
    purchase graph: every node starts as its own label. The (big,
    static) edge list is co-partitioned by the join key ONCE, so each
    round's labels join reuses the cached partitioning and only the
    node-sized label vector shuffles per round."""
    edges = persisted(_purchase_sym(spark, sf_dir).repartition("dst"))
    labels = persisted(
        edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
    )
    return edges, labels


def _lpa_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous retention-LPA round: neighbor votes PLUS each
    node's own current label (weight 1) — pure synchronous LPA
    oscillates forever on bipartite graphs (measured: every node swaps
    labels every round on the purchase graph, a 2-cycle orbit), while
    the self-vote anchors ties and stabilizes community count.

    Vote argmax as ONE long hash-aggregate (see _LPA_B note): a
    per-node rank window sorts every vote row; max() keeps the whole
    round in HashAggregate. localCheckpoint truncates the
    round-over-round lineage (persist alone leaves the analyzer
    re-walking nested plans — the measured k-core lesson)."""
    b1 = F.lit(_LPA_B - 1)
    votes = (
        edges.join(labels.select(F.col("node").alias("dst"), "lbl"), "dst")
        .select(F.col("src").alias("node"), "lbl")
        .unionByName(labels)
        .groupBy("node", "lbl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    enc = F.max(F.col("cnt") * F.lit(_LPA_B) + (b1 - F.col("lbl"))).alias(
        "enc"
    )
    # fused_ckpt: the round materializes inside the next action's job
    # (iterate.py)
    return fused_ckpt(
        votes.groupBy("node")
        .agg(enc)
        .select("node", (b1 - F.expr(f"enc & {_LPA_B - 1}")).alias("lbl"))
    )


@register("q_graph_lpa_communities", oracle=_lpa_oracle())
def q_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the customer-supplier purchase graph:
    every node starts as its own community, and each round adopts the
    most frequent label among its neighbors. Classic LPA breaks ties
    randomly; here the tie-break is TOTAL — (count DESC, label ASC),
    evaluated as a per-node row_number — so the full label trajectory
    is deterministic and the unrolled-CTE oracle replays all
    3 rounds bit-for-bit (the integer-PageRank playbook).

    Scale shape: each round is one edges-to-labels equi-join, one
    (node, label) count, and one per-node rank over a partition
    bounded by the node's distinct neighbor labels (≤ degree — never
    global). Label state is one row per node; rounds persist so the
    driver loop never recomputes (each round is a lazy localCheckpoint;
    the run-to-convergence depth study is in SCALING.md).
    Published: the 20 largest communities after round
    3."""
    from pyspark.sql import Window as W

    edges, labels = _lpa_setup(spark, sf_dir)
    assert labels.agg(F.max("node")).first()[0] < _LPA_B, (
        "LPA argmax encoding needs node ids < 2^32; re-key or widen B"
    )
    # NO fixpoint short-circuit at fixed R, deliberately: the measured
    # depth study (SCALING.md, LPA convergence study) shows ~10% of this
    # bipartite graph's nodes sit in a period-2 label orbit even with
    # the self-vote, so changed==0 never fires — the check would cost
    # one round-sized job per round and save nothing at fixed R. Deep-R
    # deployments stop on labels(t) == labels(t-2) instead (SCALING.md
    # records the measured stop rounds).
    for _ in range(_LPA_ROUNDS):
        labels = _lpa_round(edges, labels)
    top = (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "lbl")
        .limit(_LPA_TOP)
    )
    # rank over the k survivors only (TakeOrdered first, then the
    # bounded global window — the vocabulary-rank pattern)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.col("n_members").desc(), "lbl"))
        .cast("int")
        .alias("rank"),
        F.col("lbl").cast("long").alias("community"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# link prediction: bipartite resource-allocation scores (recommendation)
# ---------------------------------------------------------------------------

_RA_CAP = 64   # hub damping: parts bought by more customers carry no signal
_RA_TOP = 100  # published predictions

_RA_ORACLE = f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT p, count(*) AS d FROM cp GROUP BY p
), ok AS (
  SELECT cp.c, cp.p, deg.d FROM cp JOIN deg USING (p)
  WHERE deg.d <= {_RA_CAP}
), pairs AS (
  SELECT a.c AS cust_a, b.c AS cust_b,
         CAST(sum(1000000 // a.d) AS BIGINT) AS ra_ppm,
         CAST(count(*) AS BIGINT) AS n_common
  FROM ok a JOIN ok b ON a.p = b.p AND a.c < b.c
  GROUP BY 1, 2
)
SELECT cust_a, cust_b, ra_ppm, n_common FROM pairs
ORDER BY ra_ppm DESC, cust_a, cust_b LIMIT {_RA_TOP}
"""


@register("q_graph_link_prediction", oracle=_RA_ORACLE)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction / customer-similarity recommendation via the
    resource-allocation index (Zhou, Lü & Zhang, EPJ B 2009) on the
    customer–part purchase bipartite: two customers are similar in
    proportion to Σ over shared parts of 1/deg(part) — each part
    spreads one unit of "resource" equally among its buyers, so rare
    parts bind their few buyers tightly while commodity parts say
    nothing. Published as exact integer ppm (1000000 div deg — no
    float drift across engines) with the common-part count beside it;
    top-100 pairs under the total order (score desc, cust_a, cust_b).

    Scale shape: the wedge expansion (customer pairs through a shared
    part) is the known blow-up of every common-neighbour method —
    C(deg, 2) per part. Two bounds keep it linear-ish: (1) the hub cap
    deg ≤ 64 drops parts whose per-wedge contribution is < 15.6k ppm
    AND whose fan-out is quadratic — at 100 TB this is the difference
    between Σ C(d≤cap, 2) and Σ C(d_hub, 2) with d_hub in the millions
    (the RA weight 1/d is WHY dropping hubs is principled: their
    contribution vanishes exactly when their cost explodes); (2) pairs
    are expanded MAP-SIDE from a per-part sorted buyer array (the
    _copurchase_edges recipe — one groupBy shuffle, no self-join) and
    encoded on one long (a·2^32 + b, ANSI multiply fails loud past
    2^31) so the pair aggregate shuffles a single primitive key. The
    top-k is TakeOrdered (per-partition heaps), never a global sort.

    The pair aggregate's partition count is sized from the EXACT wedge
    total (one bounded probe over the persisted part-dictionary-sized
    buyers table: Σ C(|cs|, 2)) so each partition's hash-agg state
    fits memory: pairs are mostly unique, so aggregate state ≈ input
    rows, and the session's 32 shuffle partitions that are right for
    corpus-sized aggs put ~28M keys (~1.3 GB of hash map) in each task
    at sf10 — past the hash-agg budget, every task falls back to
    sort-based aggregation and the decade leg went from minutes to a
    timeout. Sizing at ~48 B/key against a 256 MB target (sf0.1 stays
    at the 32 floor; sf10 gets ~170 partitions) restored the linear
    regime — the segmented_group_rank groups×bands lesson applied to a
    pair aggregate. At 100 TB this number is the one knob a deployment
    must scale with corpus (wedges/partition, not partitions=cores).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
    )
    # no pre-distinct: collect_set dedups buyers per part inside the ONE
    # groupBy shuffle (a separate distinct added a full exchange for the
    # same result — measured 6.4 vs 5.9 s solo min-of-3 at sf0.1)
    buyers = persisted(
        cp.groupBy("p")
        .agg(F.sort_array(F.collect_set("c")).alias("cs"))
        .filter(F.size("cs").between(2, _RA_CAP))
        .select(
            F.expr("CAST(1000000 DIV size(cs) AS BIGINT)").alias("w"),
            F.col("cs"),
        )
    )
    n_wedges = int(
        buyers.agg(
            F.sum(F.expr("size(cs) * (size(cs) - 1) DIV 2")).cast("long")
        ).first()[0]
        or 0
    )
    n_parts = max(32, min(4096, n_wedges * 48 // (256 << 20) + 1))
    wedges = buyers.select(
        "w",
        F.explode(
            F.flatten(
                F.transform(
                    "cs",
                    lambda x, i: F.transform(
                        F.slice("cs", i + 2, F.size("cs")),
                        lambda y: x * F.lit(1 << 32).cast("long") + y,
                    ),
                )
            )
        ).alias("e"),
    )
    top = (
        # explicit hash repartition on the pair key: satisfies the
        # groupBy's clustering (no second exchange) and pins the sized
        # partition count (AQE leaves explicit repartitions alone)
        wedges.repartition(n_parts, "e")
        .groupBy("e")
        .agg(
            F.sum("w").cast("long").alias("ra_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
        # encoded pair ascending == (cust_a, cust_b) ascending: a holds
        # the high 32 bits, so the long order IS the lexicographic order
        .orderBy(F.col("ra_ppm").desc(), "e")
        .limit(_RA_TOP)
    )
    return top.select(
        F.shiftright("e", 32).alias("cust_a"),
        F.col("e").bitwiseAND((1 << 32) - 1).alias("cust_b"),
        "ra_ppm",
        "n_common",
    )


# ---------------------------------------------------------------------------
# HyperANF: the neighborhood function N(k) via per-node HLL registers
# ---------------------------------------------------------------------------

# Boldi–Vigna HyperANF (WWW'11): B(v, k+1) = B(v,k) ∪ ⋃_{(v,w)∈E} B(w,k),
# each ball approximated by an HLL counter so the union is a register-wise
# MAX — one edge join + one aggregate per round, never a frontier BFS.
# m = 64 registers/node: per-node error ~13%, but N(k) SUMS |nodes|
# independent estimates, so the aggregate concentrates far tighter — and
# small m is what makes the per-round shuffle (edges x 64-int array)
# affordable at 100 TB, exactly B&V's sizing argument.
_HA_M = 64
_HA_K = 4               # fixed rounds (oracle unrolls them)


def _ha_cents_duck(k: int) -> tuple[str, str]:
    """DuckDB text of floor(100 * estimate) per node of the register
    CTE ``r{k}``, and the FROM clause holding each node's sums."""
    m, num = _HA_M, repr(hll.num(_HA_M))
    tab = "[" + ", ".join(repr(x) for x in hll.lntab(m)) + "]"
    d = f"(denom_ne + ({m} - v_cnt) * (CAST(1 AS BIGINT) << {hll.CAP}))"
    return f"""floor(100 * CASE
           WHEN ({m} - v_cnt) > 0
                AND {num} / {d} <= {2.5 * m}
           THEN {float(m)!r} * ({tab})[{m} - v_cnt]
           ELSE {num} / {d}
         END)""", f"""FROM (SELECT node,
               sum(CAST(1 AS BIGINT) << ({hll.CAP} - rho)) AS denom_ne,
               count(*) AS v_cnt
        FROM r{k} GROUP BY node)"""


# sketch-side join strategy threshold: below this node count the whole
# register table broadcasts (~280 B/node -> ~140 MB at the default), so
# each round's join ships NO edge bytes at all — measured 3.4 s vs
# 12.4 s (pre-partitioned shuffle join) vs 46 s (naive shuffle join)
# for 4 rounds at sf0.1.  Above it, edges are hash-partitioned by src
# ONCE at build and only the node-sized sketch shuffles per round —
# the honest 100 TB shape (a billion-node sketch table cannot
# broadcast; the edge side must never re-shuffle per round).
_HA_BCAST_NODES = 500_000


def _ha_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, bool]:
    """(edges-with-self-loops, initial sketches, small): the pagerank
    purchase graph symmetrized, plus (v,v) loops so a node's own ball
    carries through the max-merge without a separate union branch.
    ``small`` picks the per-round join strategy (see _HA_BCAST_NODES);
    in the large regime edges come back pre-partitioned by src so the
    per-round join only ever shuffles the sketch side."""
    # the symmetrized edge list is persisted in its own right: the
    # nodes-distinct count and the self-loop union below both consume
    # it, and without the cache each ran the purchase join + distinct
    # from scratch (one full extra pass, measured at sf0.1)
    edges0 = persisted(_purchase_sym(spark, sf_dir))
    nodes = persisted(edges0.select(F.col("src").alias("node")).distinct())
    small = nodes.count() <= _HA_BCAST_NODES
    edges_all = edges0.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    edges = persisted(edges_all if small else edges_all.repartition("src"))
    bucket, rho = hll.register_address(F.col("node"), _HA_M)
    # registers are TINYINT (rho <= 48): a 64-register sketch row is
    # ~64 payload bytes instead of 256 — the per-round message shuffle
    # and aggregate state both shrink 4x, which is the dominant cost in
    # the large regime (measured sf10).  The one-hot register array is
    # ONE transform-over-sequence expression, not 64 chained
    # F.when(...) Columns: the listcomp form cost ~300 py4j round trips
    # of pure driver latency per invocation (guide §1.2 "per-task work"
    # applies to the DRIVER too — plan construction is timed work).
    rho = rho.cast("tinyint")
    sk0 = persisted(
        nodes.select(
            "node", bucket.alias("__b"), rho.alias("__r")
        ).select(
            "node",
            F.expr(
                f"transform(sequence(0, {_HA_M - 1}), "
                f"i -> CAST(IF(i = __b, __r, 0Y) AS TINYINT))"
            ).alias("regs"),
        )
    )
    return edges, sk0, small


def _ha_round(edges: DataFrame, sk: DataFrame, small: bool) -> DataFrame:
    """One HyperANF round: ship each node's registers to its neighbors
    (self-loop included) and take the register-wise MAX — 64 plain
    JVM max aggregates over a compact array column (map-side combined,
    so the agg shuffle is partitions x nodes x 64, never edge-sized).
    ``small`` broadcasts the node-sized sketch (zero edge movement);
    otherwise the join rides the edges' build-time src partitioning
    and only the sketch shuffles — and the message stream is
    EXPLICITLY repartitioned by node before the aggregate: at ~15
    messages/node the partial aggregation reduces almost nothing
    while its per-task hashmap covers nearly EVERY node (nodes x 64
    ints per task -> spill-to-sort; the sf10 leg ran minutes instead
    of seconds), whereas after the node exchange each task aggregates
    only its own nodes/P slice."""
    rhs = F.broadcast(sk) if small else sk
    msg = edges.join(rhs, edges["src"] == sk["node"]).select(
        F.col("dst").alias("node"), "regs"
    )
    if not small:
        msg = msg.repartition("node")
    # the 64 register maxes are ONE parsed SQL expression (array of
    # max(regs[i]) aggregates), not 64 F.max(F.element_at(...)) Columns
    # plus a 64-column re-array select: the listcomp form cost ~2,500
    # py4j round trips (~2-5 s of pure driver latency) PER ROUND of
    # plan construction — measured with cProfile, and the bench pays it
    # on every rep.  Identical physical aggregate (64 partial-max
    # states, map-side combined); results hash-equal.
    arr = (
        "array("
        + ", ".join(f"max(regs[{i}])" for i in range(_HA_M))
        + ") AS regs"
    )
    return msg.groupBy("node").agg(F.expr(arr))


def _ha_cents_expr():
    """floor(100 * HLL-estimate(regs)) as an exact int64 — the
    per-node ball-size estimate in cents, one parsed SQL expression
    (built 5x per hyperanf run, 10x per harmonic run)."""
    denom_ne = (
        f"aggregate(regs, CAST(0 AS BIGINT), (acc, x) -> acc + "
        f"IF(x > 0, shiftleft(CAST(1 AS BIGINT), {hll.CAP} - x), 0))"
    )
    v_cnt = "aggregate(regs, 0, (acc, x) -> acc + IF(x > 0, 1, 0))"
    est = hll.estimate_sql(denom_ne, v_cnt, _HA_M)
    return F.expr(f"CAST(floor(100.0D * ({est})) AS BIGINT)")


def _ha_nf_cents(sk: DataFrame) -> int:
    """Sum over nodes of the per-node cents estimate — exact int64,
    so the cross-node sum is order-free and hash-replayable."""
    row = (
        sk.select(_ha_cents_expr().alias("c"))
        .agg(F.sum("c").alias("s"))
        .collect()
    )
    return int(row[0]["s"] or 0)


def hyperanf_counts(
    spark: SparkSession, sf_dir: str, k_rounds: int = _HA_K
) -> list[tuple[int, int]]:
    """[(k, N(k) in estimate-cents)] for k = 0..k_rounds."""
    edges, sk, small = _ha_graph(spark, sf_dir)
    out = [(0, _ha_nf_cents(sk))]
    for k in range(1, k_rounds + 1):
        sk = persisted(_ha_round(edges, sk, small))
        out.append((k, _ha_nf_cents(sk)))
    return out


def _ha_oracle() -> str:
    """Unrolled-CTE replay: long-format (node, bucket, rho) registers,
    K max-merge rounds along the same edge list, per-k integer-cents
    estimates, then the pct/effective-diameter readout."""
    wb1 = hll.WBITS + 1
    parts = [
        f"""
WITH fwd AS MATERIALIZED ({_PR_EDGES_SQL}
), nodes AS MATERIALIZED (
  SELECT src AS node FROM fwd UNION SELECT dst FROM fwd
), edges AS MATERIALIZED (
  SELECT src, dst FROM fwd
  UNION ALL SELECT dst AS src, src AS dst FROM fwd
  UNION ALL SELECT node AS src, node AS dst FROM nodes
), r0 AS MATERIALIZED (
  SELECT node,
         ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 2))::BIGINT
           % {_HA_M} AS bucket,
         least(CASE WHEN w = 0 THEN {wb1}
                    ELSE {wb1} - length(bin(w)) END, {hll.CAP}) AS rho
  FROM (SELECT node,
               ('0x' || substr(md5(CAST(node AS VARCHAR)), 3, 14))::BIGINT
                 AS w
        FROM nodes)
)"""
    ]
    for i in range(1, _HA_K + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
  SELECT e.dst AS node, r.bucket, max(r.rho) AS rho
  FROM edges e JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst, r.bucket
)"""
        )

    def est_sql(k: int) -> str:
        cents, sums = _ha_cents_duck(k)
        return f"""
  SELECT {k} AS k,
         CAST(sum(CAST({cents} AS BIGINT)) AS BIGINT) AS nf_cents
  {sums}"""

    union = "\n  UNION ALL".join(est_sql(k) for k in range(_HA_K + 1))
    parts.append(
        f""", nf AS MATERIALIZED ({union}
), pct AS MATERIALIZED (
  SELECT k, nf_cents,
         nf_cents * 10000 // (SELECT max(nf_cents) FROM nf) AS pct_bp
  FROM nf
)
SELECT k, nf_cents, pct_bp,
       k = (SELECT min(k) FROM pct WHERE pct_bp >= 9000)
         AS is_eff_diameter
FROM pct"""
    )
    return "".join(parts)


@register("q_graph_hyperanf", oracle=_ha_oracle())
def q_graph_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function over the purchase graph
    (Boldi–Vigna, WWW'11): N(k) = Σ_v |ball(v, k)| estimated by
    per-node 64-register HLL counters, max-merged along edges for
    _HA_K rounds — plus the effective-diameter readout (smallest k
    whose N(k) reaches 90% of the deepest measured N).

    Spark shape: each round is ONE edge⋈sketch shuffle + 64 JVM max
    aggregates over a compact array<int> column (no Python in the row
    path, no frontier explosion — cost is edges x 64 ints per round
    regardless of ball sizes, which is the whole point vs exact BFS
    at 100 TB). Determinism: md5-hash registers, integer-scaled
    denominators, floor-to-cents per node so the cross-node sum is an
    exact int64 — the q_agg_hll_distinct replayable-sketch recipe
    lifted to graph iteration; the oracle unrolls the identical
    register algebra as CTEs. The per-k readout is K+1 bounded
    one-row collects (audit-scalar class); the pct/effective-diameter
    algebra runs on K+1 driver ints (tiny-relation doctrine). The
    fold run on to its register fixpoint (monotone, so changed==0 is
    the stop) is on record in SCALING.md.
    """
    rows = hyperanf_counts(spark, sf_dir)
    mx = max(c for _, c in rows)
    pct = [(k, c, c * 10000 // mx) for k, c in rows]
    eff = min(k for k, _c, p in pct if p >= 9000)
    return local_frame(
        spark,
        [(k, c, p, k == eff) for k, c, p in pct],
        "k int, nf_cents long, pct_bp long, is_eff_diameter boolean",
    )


# ---------------------------------------------------------------------------
# harmonic centrality via HyperBall (per-node ball-size differences)
# ---------------------------------------------------------------------------

_HC_TOP = 20
# fixed-point weight: H(v) = sum_k (|B(v,k)| - |B(v,k-1)|) / k, scaled
# by lcm(1..4) = 12 so every per-k term is an exact integer
_HC_W = {1: 12, 2: 6, 3: 4, 4: 3}


def _hc_oracle() -> str:
    """The HyperANF register CTEs (r0..rK) extended with per-NODE
    estimates per k and the integer harmonic combination."""
    base = _ha_oracle()
    # reuse everything up to (and including) the last register CTE;
    # the nf/pct readout is hyperanf's, not ours
    cut = base.index(", nf AS MATERIALIZED")
    parts = [base[:cut]]
    for k in range(_HA_K + 1):
        cents, sums = _ha_cents_duck(k)
        parts.append(
            f""", e{k} AS MATERIALIZED (
  SELECT node,
         CAST({cents} AS BIGINT) AS cents
  {sums})"""
        )
    combo = " + ".join(
        f"(e{k}.cents - e{k - 1}.cents) * {_HC_W[k]}"
        for k in range(1, _HA_K + 1)
    )
    joins = " ".join(f"JOIN e{k} USING (node)" for k in range(1, _HA_K + 1))
    parts.append(
        f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       CAST({combo} AS BIGINT) AS hc_fp12
FROM e0 {joins}
ORDER BY hc_fp12 DESC, node
LIMIT {_HC_TOP}"""
    )
    return "".join(parts)


@register("q_graph_harmonic_centrality", oracle=_hc_oracle())
def q_graph_harmonic_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Harmonic centrality estimated by HyperBall (Boldi–Vigna,
    WWW'14): H(v) = Σ_{u≠v} 1/d(u,v) = Σ_k (|B(v,k)|−|B(v,k−1)|)/k,
    read straight off the HyperANF register fold's per-node ball
    sizes — the centrality that geometric-axiom analysis recommends
    over closeness, computable at 100 TB because it never runs a BFS:
    the SAME K max-merge rounds HyperANF already pays, plus K
    node-sized joins (each k's cents against k−1's).

    Determinism: per-node cents are exact int64 (floor-to-cents, the
    q_graph_hyperanf recipe) and the 1/k weights are lcm-scaled
    integers (×12), so hc_fp12 is exact integer algebra the oracle
    replays; top-20 with (hc desc, node) tiebreak is a unique
    cut. Per-k ball ESTIMATES can dip at a linear-counting→raw
    switch (a standard HLL artifact); both engines compute the
    identical estimator, so the hash ties them regardless.
    """
    edges, sk, small = _ha_graph(spark, sf_dir)
    prev = sk.select("node", _ha_cents_expr().alias("cents"))
    diffs = None
    for k in range(1, _HA_K + 1):
        sk = persisted(_ha_round(edges, sk, small))
        cur = sk.select("node", _ha_cents_expr().alias("cents"))
        d = cur.join(
            prev.withColumnRenamed("cents", "pc"), "node"
        ).select(
            "node",
            ((F.col("cents") - F.col("pc")) * _HC_W[k]).alias("d"),
        )
        diffs = d if diffs is None else diffs.unionByName(d)
        prev = cur
    hc = diffs.groupBy("node").agg(F.sum("d").cast("long").alias("hc_fp12"))
    node_type = F.when(F.col("node") % 2 == 0, "customer").otherwise(
        "supplier"
    )
    return (
        hc.select(
            node_type.alias("node_type"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            "hc_fp12",
            "node",
        )
        .orderBy(F.col("hc_fp12").desc(), "node")
        .limit(_HC_TOP)
        .drop("node")
    )


# ---------------------------------------------------------------------------
# personalized PageRank (random walk with restart at a seed set)
# ---------------------------------------------------------------------------

_PPR_SEED_MOD = 101  # seeds: customers with custkey % 101 == 0 (~1%)
_PPR_TOP = 20


def _ppr_seed_sql() -> str:
    return f"(node % 2 = 0 AND (node // 2) % {_PPR_SEED_MOD} = 0)"


def _ppr_oracle() -> str:
    """_pr_oracle with the teleport gated on seed membership and a
    seed-only initial vector — the same unrolled integer CTE replay."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node,
         CAST(CASE WHEN {_ppr_seed_sql().replace("node", "src")}
              THEN {_PR_R0} ELSE 0 END AS BIGINT) AS rank
  FROM deg
)"""
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""", c{i} AS (
  SELECT e.dst AS node, sum(r.rank // d.d) AS contrib
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT node,
         CAST(CASE WHEN {_ppr_seed_sql()} THEN {_PR_TELEPORT} ELSE 0 END
              + (85 * contrib) // 100 AS BIGINT) AS rank
  FROM c{i}
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key,
       rank AS rank_q,
       {_ppr_seed_sql()} AS is_seed
FROM {prev}
ORDER BY rank DESC, node
LIMIT {_PPR_TOP}"""
    )
    return "".join(parts)


@register("q_graph_pagerank_personalized", oracle=_ppr_oracle())
def q_graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank — the random-walk-with-restart integer
    analogue: mass starts ON the seed set (customers with custkey %
    101 == 0) and the teleport term returns only to seeds,
    so the stationary mass measures proximity-to-seeds instead of
    global importance. The curation use-case: given a trusted seed
    cohort, rank the rest of the graph by influence distance (seed
    expansion, neighborhood harvesting for training-data selection).

    Same execution shape as q_graph_pagerank — the per-round plan is
    ONE contribution join + one aggregate over the shared
    contribution-ready edge list; only the initial vector and the
    teleport expression differ, so the unrolled-CTE oracle replays it
    with a seed-conditional CASE. Nodes the walk hasn't reached hold
    exact zeros (integer arithmetic, no epsilon noise), and the
    top-20 cut is unique via the (rank desc, node) tiebreak.
    """
    is_seed = (F.col("node") % 2 == 0) & (
        F.expr("(node div 2)") % _PPR_SEED_MOD == 0
    )
    edges_d, nodes = _pr_graph(spark, sf_dir)
    ranks = nodes.select(
        "node",
        F.when(is_seed, F.lit(_PR_R0)).otherwise(F.lit(0)).cast("long")
        .alias("rank"),
    )
    teleport = F.when(is_seed, F.lit(_PR_TELEPORT)).otherwise(F.lit(0))
    for _ in range(_PR_ITERS):
        ranks = persisted(_pr_round(edges_d, ranks, teleport))
    node_type = F.when(F.col("node") % 2 == 0, "customer").otherwise(
        "supplier"
    )
    return (
        ranks.select(
            node_type.alias("node_type"),
            F.expr("node div 2").cast("long").alias("entity_key"),
            F.col("rank").alias("rank_q"),
            is_seed.alias("is_seed"),
            "node",
        )
        .orderBy(F.col("rank_q").desc(), "node")
        .limit(_PPR_TOP)
        .drop("node")
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities (Kleinberg, JACM '99) — integer fixed-point
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
# initial hub score per customer; any positive constant works (HITS is
# scale-invariant up to normalization) — 1e6 keeps the first raw
# authority sums comfortably inside int64 at any plausible node count
_HITS_H0 = 1_000_000
# target total mass after each normalization: scores are renormalized
# to sum ~= _HITS_MASS by dividing by the scalar q = max(S div MASS, 1)
# (divide-by-scalar instead of multiply-then-divide keeps every
# intermediate <= maxdeg * MASS ~ 1e14 << 2^63 — no DECIMAL(38) needed)
_HITS_MASS = 1_000_000_000
_HITS_TOP = 20


def _hits_oracle() -> str:
    """Unrolled {_HITS_ITERS}-iteration integer HITS as chained CTEs:
    each iteration is authority-from-hubs then hub-from-authorities,
    each followed by the divide-by-scalar renormalization — the
    pagerank-oracle strategy (replay the integer arithmetic exactly)
    applied to two coupled vectors."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), h0 AS (
  SELECT DISTINCT src AS node, CAST({_HITS_H0} AS BIGINT) AS h FROM e0
)"""
    ]
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""", a{i}r AS (
  SELECT e.dst AS node, SUM(h.h) AS a
  FROM e0 e JOIN {prev_h} h ON h.node = e.src
  GROUP BY e.dst
), a{i} AS (
  SELECT node,
         CAST(a // GREATEST(s // {_HITS_MASS}, 1) AS BIGINT) AS a
  FROM a{i}r, (SELECT SUM(a) AS s FROM a{i}r)
), h{i}r AS (
  SELECT e.src AS node, SUM(a.a) AS h
  FROM e0 e JOIN a{i} a ON a.node = e.dst
  GROUP BY e.src
), h{i} AS (
  SELECT node,
         CAST(h // GREATEST(s // {_HITS_MASS}, 1) AS BIGINT) AS h
  FROM h{i}r, (SELECT SUM(h) AS s FROM h{i}r)
)"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""
SELECT role, entity_key, score_q FROM (
  (SELECT 'authority' AS role,
          CAST(node // 2 AS BIGINT) AS entity_key,
          a AS score_q
   FROM a{_HITS_ITERS} ORDER BY a DESC, node LIMIT {_HITS_TOP})
  UNION ALL
  (SELECT 'hub' AS role,
          CAST(node // 2 AS BIGINT) AS entity_key,
          h AS score_q
   FROM h{_HITS_ITERS} ORDER BY h DESC, node LIMIT {_HITS_TOP})
)
ORDER BY role, score_q DESC, entity_key"""
    )
    return "".join(parts)


def hits_scores(
    spark: SparkSession, sf_dir: str, iters: int = _HITS_ITERS
) -> tuple[DataFrame, DataFrame]:
    """(hub, authority) integer score vectors after ``iters`` HITS
    iterations over the DIRECTED customer→supplier purchase graph
    (the bipartite orientation: customers are the only hub candidates,
    suppliers the only authorities).

    Per iteration the plan is the audited PageRank contribution join
    run twice in alternation — authority(v) = Σ hub(u) over in-edges,
    hub(u) = Σ authority(v) over out-edges — with an integer
    renormalization between: divide every score by the scalar
    q = max(S div {_HITS_MASS}, 1) where S is the vector's sum.  S is
    observed by the half-step's one action (its eager checkpoint) and
    q enters the next plan as a literal, so the oracle can replay it as
    a subquery and the whole operator stays hash-checkable despite
    being iterative and normalized.

    Scale: the join strategy is size-aware, the HyperANF regime pick
    (_HA_BCAST_NODES) applied to two coupled vectors — below the
    threshold the node-sized score vector BROADCASTS into each
    half-step join (zero edge movement per round); above it, edges
    persist pre-partitioned by src AND
    by dst (HITS alternates join keys, so each direction pays its
    shuffle ONCE at build) and per round only the node-sized vector
    shuffles, with the message stream explicitly repartitioned on the
    group key before the aggregate (the HyperANF partial-agg spill
    lesson).  Divide-by-scalar normalization keeps every intermediate
    ≤ maxdeg·MASS ≈ 1e14 — structurally inside int64 with no decimal
    widening on the hot path.  Each half-step's raw aggregate is
    eagerly localCheckpoint'ed: six stacked half-step plans made
    ANALYSIS the dominant cost (20 s warm on a 600-row fixture, all
    driver time — 22.7 → 10.5 s one-shot at sf0.1 after truncation).
    """
    edges = persisted(_purchase_fwd(spark, sf_dir))
    n_nodes = edges.agg(
        (
            F.countDistinct("src") + F.countDistinct("dst")
        ).alias("n")
    ).first()["n"]
    small = n_nodes <= _HA_BCAST_NODES
    if small:
        e_src = e_dst = edges
    else:
        e_src = persisted(edges.repartition("src"))
        e_dst = persisted(edges.repartition("dst"))
    hub = edges.select("src").distinct().select(
        F.col("src").alias("node"),
        F.lit(_HITS_H0).cast("long").alias("h"),
    )
    auth = None

    def _half(e: DataFrame, vec: DataFrame, key: str, out_key: str,
              vcol: str, out: str) -> DataFrame:
        rhs = F.broadcast(vec) if small else vec
        msg = e.join(rhs, e[key] == vec["node"]).select(out_key, vcol)
        if not small:
            msg = msg.repartition(out_key)
        obs = Observation()
        raw = (
            msg.groupBy(out_key)
            .agg(F.sum(vcol).alias(out))
            .withColumnRenamed(out_key, "node")
            .observe(obs, F.sum(out).alias("s"))
            .localCheckpoint(eager=True)
        )
        q = max((obs.get["s"] or 0) // _HITS_MASS, 1)
        return raw.select(
            "node", F.expr(f"{out} div {q}L").cast("long").alias(out)
        )

    for _ in range(iters):
        auth = _half(e_src, hub, "src", "dst", "h", "a")
        hub = _half(e_dst, auth, "dst", "src", "a", "h")
    return hub, auth


@register("q_graph_hits", oracle=_hits_oracle())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities (Kleinberg, JACM '99): top-20
    customers by hub score and top-20 suppliers by authority score
    after 3 alternating iterations over the directed
    customer→supplier purchase graph — the classic iterative-graph
    operator the family lacked, sharing the PageRank contribution-join
    plan with the roles swapped each half-step.

    Integer fixed-point throughout (no float drift): scores renormalize
    to a fixed total mass via divide-by-scalar, and the oracle unrolls
    all 3 iterations as CTEs replaying the arithmetic exactly —
    iterative + normalized, yet fully hash-checked.  The top-k cuts
    tiebreak on node id, so the result set is order-unique."""
    hub, auth = hits_scores(spark, sf_dir)

    def top(vec: DataFrame, role: str, score: str) -> DataFrame:
        return (
            vec.select(
                F.lit(role).alias("role"),
                F.expr("node div 2").cast("long").alias("entity_key"),
                F.col(score).alias("score_q"),
                "node",
            )
            .orderBy(F.col("score_q").desc(), "node")
            .limit(_HITS_TOP)
            .drop("node")
        )

    return (
        top(auth, "authority", "a")
        .unionAll(top(hub, "hub", "h"))
        .orderBy("role", F.col("score_q").desc(), "entity_key")
    )


# ---------------------------------------------------------------------------
# deterministic random-walk corpus (DeepWalk-style walk generation)
# ---------------------------------------------------------------------------

_RW_STEPS = 8
_RW_SEED_MOD = 97  # seeds: customers with custkey % 97 == 0 (khop's set)


def _rw_oracle() -> str:
    """Unrolled {_RW_STEPS}-step hash-argmin walks as chained CTEs."""
    parts = [
        f"""
WITH e0 AS ({_PR_EDGES_SQL}
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), w0 AS (
  SELECT src AS seed, src AS node FROM (
    SELECT DISTINCT src FROM edges
    WHERE src % 2 = 0 AND (src // 2) % {_RW_SEED_MOD} = 0
  )
)"""
    ]
    for t in range(1, _RW_STEPS + 1):
        parts.append(
            f""", w{t} AS (
  SELECT seed, (m).d AS node FROM (
    SELECT w.seed, min(struct_pack(
      h := ('0x' || substr(md5('rw-' || CAST(e.src AS VARCHAR)
            || '-{t}-' || CAST(e.dst AS VARCHAR)), 1, 15))::BIGINT,
      d := e.dst)) AS m
    FROM w{t - 1} w JOIN edges e ON e.src = w.node
    GROUP BY w.seed
  )
)"""
        )
    steps = "\n  UNION ALL\n  ".join(
        f"SELECT seed, CAST({t} AS INT) AS step, node FROM w{t}"
        for t in range(_RW_STEPS + 1)
    )
    parts.append(
        f"""
SELECT CAST(seed // 2 AS BIGINT) AS walk_seed, step,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS node_type,
       CAST(node // 2 AS BIGINT) AS entity_key
FROM (
  {steps}
)
ORDER BY walk_seed, step"""
    )
    return "".join(parts)


@register("q_graph_random_walks", oracle=_rw_oracle())
def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk corpus generation (DeepWalk, KDD '14 / node2vec,
    KDD '16 — the walk-sampling stage only): one 8-step walk
    from every seed customer over the undirected purchase graph — the
    training-data pipeline op that turns a graph into a sequence corpus
    for embedding training (each walk is a "sentence" of node tokens).

    Determinism instead of RNG: the step out of node v at time t is
    the neighbor minimizing md5_60bit('rw-<v>-<t>-<u>') (tie-broken by
    id via lexicographic struct-min — engine-agnostic) — each neighbor
    is equally likely to hold the min hash, so the choice is uniform
    like a seeded RNG, yet the corpus is reproducible run-to-run AND
    replayable by the oracle, which unrolls all 8 steps as
    chained CTEs making the identical md5 choice (the
    q_graph_triangles_doulion md5-coin idiom).

    Scale shape: hash-ARGMIN instead of an indexed adjacency — the
    first cut built (row_number idx, deg) per edge, and that window
    sort over the full edge set dominated at sf10 (114.6 s); argmin
    needs only the RAW directed edge cache, and each step is one
    BROADCAST join of the seed-bounded frontier into it followed by a
    map-side-combined min per walk — no window, no deg join, no
    per-step shuffle beyond the walk-sized aggregate. The bipartite
    parity buys another 2×: even steps stand on customers and odd on
    suppliers, so each step scans only ONE direction of the purchase
    edges (the reverse is a projection of the same cache — the
    symmetrized union never materializes). Per-step cost is one
    half-edge scan, amortized over ALL walks in flight — the DeepWalk
    regime (a walk per NODE) pays the same 8 scans for N
    walks. Frontiers localCheckpoint so stacked joins never grow the
    analyzed plan (the HITS depth-6 lesson)."""
    fwd = persisted(_purchase_fwd(spark, sf_dir))
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    frontier = (
        fwd.select("src")
        .filter(F.expr(f"(src div 2) % {_RW_SEED_MOD}") == 0)
        .distinct()
        .select(F.col("src").alias("seed"), F.col("src").alias("node"))
        .localCheckpoint(eager=True)
    )
    out = [frontier.select("seed", F.lit(0).cast("int").alias("step"), "node")]
    for t in range(1, _RW_STEPS + 1):
        h = F.expr(
            f"cast(conv(substring(md5(concat_ws('-', 'rw', src, {t}, dst)),"
            " 1, 15), 16, 10) as bigint)"
        )
        half = fwd if t % 2 == 1 else rev
        frontier = (
            half.join(F.broadcast(frontier), half["src"] == frontier["node"])
            .select("seed", h.alias("h"), "dst")
            .groupBy("seed")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select("seed", F.col("m.dst").alias("node"))
            .localCheckpoint(eager=True)
        )
        out.append(
            frontier.select(
                "seed", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    walks = out[0]
    for df in out[1:]:
        walks = walks.unionAll(df)
    return walks.select(
        F.expr("seed div 2").cast("long").alias("walk_seed"),
        "step",
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("entity_key"),
    ).orderBy("walk_seed", "step")


# ---------------------------------------------------------------------------
# strongly connected components (coloring algorithm over the
# part-successor digraph)
# ---------------------------------------------------------------------------

_SCC_SPARSIFY = 8   # keep a deterministic 1/8 of successor edges
_SCC_MAX_OUTER = 30
_SCC_MAX_INNER = 64

_SCC_EDGES_SQL = f"""
  WITH rep AS (
    SELECT l_orderkey AS okey, min(l_partkey) AS part
    FROM lineitem GROUP BY 1
  ), seq AS (
    SELECT r.part,
           lag(r.part) OVER (PARTITION BY o.o_custkey
                             ORDER BY o.o_orderdate, o.o_orderkey) AS prev
    FROM orders o JOIN rep r ON r.okey = o.o_orderkey
  ), e AS (
    SELECT DISTINCT prev AS src, part AS dst FROM seq
    WHERE prev IS NOT NULL AND prev <> part
  )
  SELECT src, dst FROM e
  WHERE ('0x' || substr(md5('scc-' || CAST(src AS VARCHAR) || '-' ||
         CAST(dst AS VARCHAR)), 1, 15))::BIGINT % {_SCC_SPARSIFY} = 0
"""

# Oracle: algorithm-independent ground truth — v,w share an SCC iff
# mutually reachable; label = least mutual node. The recursive closure
# is sf0.01-sized only (the driver never runs oracles above that).
_SCC_ORACLE = f"""
WITH RECURSIVE edges AS ({_SCC_EDGES_SQL}
), reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
), mutual AS (
  SELECT r1.a AS v, r1.b AS w FROM reach r1
  JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
), lab AS (
  SELECT v, least(v, min(w)) AS scc FROM mutual GROUP BY v
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
), nontrivial AS (
  SELECT CAST(scc AS BIGINT) AS scc_id,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(v) AS BIGINT) AS node_sum
  FROM lab GROUP BY scc
), singleton AS (
  SELECT CAST(-1 AS BIGINT) AS scc_id,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(node), 0) AS BIGINT) AS node_sum
  FROM nodes n WHERE NOT EXISTS (SELECT 1 FROM lab WHERE lab.v = n.node)
)
SELECT scc_id, n_nodes, node_sum FROM nontrivial
UNION ALL
SELECT scc_id, n_nodes, node_sum FROM singleton
ORDER BY n_nodes DESC, scc_id
"""


def _scc_digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified part-successor digraph: for each customer's orders in
    date order, an edge from the previous order's representative part
    (min partkey) to the next's; a deterministic md5 coin keeps 1 in
    {_SCC_SPARSIFY} distinct edges so mean degree — and hence SCC
    regime — is scale-invariant. Matches _SCC_EDGES_SQL row-for-row."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    rep = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.min("l_partkey").alias("part")
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        o.join(rep, o["o_orderkey"] == rep["okey"])
        .select("o_custkey", "o_orderdate", "o_orderkey", "part")
        .withColumn("prev", F.lag("part").over(w))
    )
    e = (
        seq.filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("part")))
        .select(F.col("prev").alias("src"), F.col("part").alias("dst"))
        .distinct()
    )
    coin = F.expr(
        "cast(conv(substring(md5(concat_ws('-', 'scc', src, dst)),"
        " 1, 15), 16, 10) as bigint)"
    )
    return e.filter(coin % _SCC_SPARSIFY == 0)


def _driver_tarjan(edges_df: DataFrame) -> DataFrame:
    """Iterative Tarjan SCC over a collected edge list; returns
    (node, scc=min member id). Caller guarantees the edge count is
    bounded (the iterate.LOCAL_MAX_EDGES routing contract)."""
    adj: dict = {}
    all_nodes: set = set()
    t = edges_df.toArrow()
    for s, d in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        adj.setdefault(s, []).append(d)
        all_nodes.add(s)
        all_nodes.add(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    label: dict = {}
    ctr = 0
    for root in all_nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = ctr
                ctr += 1
                stack.append(v)
                on_stack.add(v)
            descend = False
            nbrs = adj.get(v, ())
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if descend:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    node_t = edges_df.schema["src"].dataType.simpleString()
    rows = [(n, label[n]) for n in all_nodes]
    return local_frame(edges_df.sparkSession, rows, f"node {node_t}, scc {node_t}")


def scc_labels(
    spark: SparkSession,
    edges: DataFrame,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """(node, scc) labels — scc = min member id — for EVERY node of the
    digraph, via the coloring algorithm (Orzan '04; the FW-BW/Slota
    variant): per outer round, (1) TRIM nodes missing an in- or
    out-edge in the remaining graph — they are singleton SCCs — to
    fixpoint, (2) COLOR by forward min-label propagation to fixpoint
    (color(v) = min over v and its remaining ancestors), (3) sweep
    BACKWARD from each color root r along reversed edges that stay
    inside r's color class — the nodes reached are exactly SCC(r),
    which peels off; repeat on the remainder.  Color roots are min
    members by construction, so labels match the oracle's
    least-mutual-node ground truth without replaying any iteration
    order.

    Adaptive routing (the dedup.py connected-components philosophy):
    at or below ``local_max_edges`` the decomposition runs as an
    iterative driver-side Tarjan — a graph that fits in a few MB is a
    single-node problem, and even one distributed round costs more than
    the whole local answer (16.1 → ~3 s at sf0.1). Above the cap, the
    distributed path below; regime invariance is pytest-forced.

    Scale shape (distributed path): trim runs as a DELTA iteration —
    per-node (out, in) degree counters built once, then each round
    only DECREMENTS the counters along edges incident to the nodes
    that just died (broadcast probe of the immutable edge cache, no
    per-round edge rewrite), so total trim work is O(E) across ALL
    rounds instead of O(E × trim-depth) (the first cut rewrote +
    re-checkpointed the edge set every round: 20 trim rounds at sf10
    made that the dominant cost). The color/backward fixpoints run on
    a post-trim edge set pre-partitioned by src AND by dst (each
    direction pays its shuffle once — the HITS regime), so per round
    only the node-sized label/frontier table moves. Every phase
    localCheckpoints per round (flat plans at any depth — the HITS
    lesson). After each peel the remainder re-enters the adaptive
    cap, so the shrunken tail (43 nodes at sf10 after the giant SCC
    peels) finishes as a driver Tarjan instead of 10+ more
    distributed rounds. Round counts are graph-depth-bounded: loud
    RuntimeErrors, not silent truncation, past _SCC_MAX_OUTER /
    _SCC_MAX_INNER
    (the iterate.fixpoint contract)."""
    if local_max_edges > 0:
        n_edges = edges.limit(local_max_edges + 1).count()
        if n_edges <= local_max_edges:
            return _driver_tarjan(edges)
    orig_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    done: list[DataFrame] = []

    def dead_of(deg: DataFrame) -> DataFrame:
        return fused_ckpt(
            deg.filter((F.col("od") <= 0) | (F.col("id_") <= 0)).select("node")
        )

    for _outer in range(_SCC_MAX_OUTER):
        if local_max_edges > 0:
            n_edges = edges.limit(local_max_edges + 1).count()
            if n_edges <= local_max_edges:
                done.append(_driver_tarjan(edges))
                break
        edges = edges.localCheckpoint(eager=True)
        # --- delta trim: (out, in) degree counters; per round, dead
        # nodes decrement their neighbors' counters — no edge rewrite
        outd = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("od")
        )
        ind = edges.groupBy(F.col("dst").alias("node")).agg(
            F.count(F.lit(1)).alias("id_")
        )
        deg = fused_ckpt(
            outd.join(ind, "node", "full_outer").select(
                "node",
                F.coalesce("od", F.lit(0)).alias("od"),
                F.coalesce("id_", F.lit(0)).alias("id_"),
            )
        )

        def trim(
            state: tuple[DataFrame, DataFrame], _round: int
        ) -> tuple[tuple[DataFrame, DataFrame], bool]:
            deg, dead = state
            if dead.count() == 0:
                return state, True
            done.append(dead.select("node", F.col("node").alias("scc")))
            dec_out = (
                edges.join(
                    F.broadcast(dead.select(F.col("node").alias("dst"))),
                    "dst",
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.count(F.lit(1)).alias("d_od"))
            )
            dec_in = (
                edges.join(
                    F.broadcast(dead.select(F.col("node").alias("src"))),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.count(F.lit(1)).alias("d_id"))
            )
            deg = fused_ckpt(
                deg.join(dead, "node", "left_anti")
                .join(dec_out, "node", "left")
                .join(dec_in, "node", "left")
                .select(
                    "node",
                    (F.col("od") - F.coalesce("d_od", F.lit(0))).alias("od"),
                    (F.col("id_") - F.coalesce("d_id", F.lit(0))).alias("id_"),
                )
            )
            return (deg, dead_of(deg)), False

        (deg, _), _, converged = fixpoint((deg, dead_of(deg)), trim, _SCC_MAX_INNER)
        if not converged:
            raise RuntimeError(
                f"scc trim did not converge in {_SCC_MAX_INNER} rounds"
            )
        live = deg.select("node")
        if live.count() == 0:
            break
        # one edge rewrite at trim end (vs one per trim round), then
        # pre-partition by each join key for the fixpoint phases
        edges_live = (
            edges.join(
                live.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(live.select(F.col("node").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        e_src = persisted(edges_live.repartition("src"))
        e_dst = persisted(edges_live.repartition("dst"))
        # --- color: forward min-label propagation to fixpoint
        colors = live.select(
            "node", F.col("node").alias("label")
        ).localCheckpoint(eager=True)
        colors, _, converged = fixpoint(
            colors, min_label_step(e_src), _SCC_MAX_INNER
        )
        if not converged:
            raise RuntimeError(
                f"scc coloring did not converge in {_SCC_MAX_INNER} rounds"
            )
        # --- backward sweep within color classes from the roots
        member = (
            colors.filter(F.col("node") == F.col("label"))
            .select("node", F.col("label").alias("scc"))
            .localCheckpoint(eager=True)
        )

        def backward(
            state: tuple[DataFrame, DataFrame], _round: int
        ) -> tuple[tuple[DataFrame, DataFrame], bool]:
            member, frontier = state
            cand = (
                e_dst.join(
                    frontier.select(F.col("node").alias("dst"), "scc"),
                    "dst",
                )
                .select(F.col("src").alias("node"), "scc")
                .distinct()
                .join(
                    colors.withColumnRenamed("label", "scc"),
                    ["node", "scc"],
                    "left_semi",
                )
            )
            new = fused_ckpt(cand.join(member, "node", "left_anti"))
            if new.count() == 0:
                return state, True
            return (fused_ckpt(member.unionAll(new)), new), False

        (member, _), _, converged = fixpoint(
            (member, member), backward, _SCC_MAX_INNER
        )
        if not converged:
            raise RuntimeError(
                f"scc backward sweep did not converge in {_SCC_MAX_INNER} rounds"
            )
        done.append(member)
        # remainder re-enters the loop (and the adaptive cap) with
        # peeled members' edges removed
        remaining = fused_ckpt(live.join(member, "node", "left_anti"))
        if remaining.count() == 0:
            break
        edges = edges_live.join(
            remaining.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(
            remaining.select(F.col("node").alias("dst")), "dst", "left_semi"
        )
    else:
        raise RuntimeError(
            f"scc did not finish in {_SCC_MAX_OUTER} outer rounds; "
            "raise _SCC_MAX_OUTER for condensation DAGs deeper than that"
        )
    out = done[0] if done else orig_nodes.limit(0).select(
        "node", F.col("node").alias("scc")
    )
    for df in done[1:]:
        out = out.unionAll(df)
    # coverage sweep: a node whose last edge vanished with a peeled
    # SCC never re-enters deg — every uncovered original node is a
    # singleton by construction
    missing = orig_nodes.join(
        out.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("scc"))
    return out.unionAll(missing)


@register("q_graph_scc", oracle=_SCC_ORACLE)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the part-successor digraph —
    the directed-graph decomposition the family lacked (Tarjan's
    problem at cluster scale): which parts form cyclic purchase
    clusters vs the acyclic bulk.

    Output is the complete SCC partition, aggregate-verified: one row
    per non-trivial SCC (scc_id = min member partkey, size, member-id
    sum) plus a scc_id = -1 row pooling every singleton SCC — so the
    oracle (algorithm-independent mutual-reachability ground truth via
    a recursive-CTE closure) checks the full partition, not a sample.
    The digraph is md5-sparsified to 1/8 of distinct successor
    edges, keeping mean degree — and the one-giant-SCC-plus-singletons
    regime of sparse random digraphs — invariant across scale factors."""
    labels = scc_labels(spark, _scc_digraph(spark, sf_dir))
    per_scc = labels.groupBy("scc").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("node").cast("long").alias("node_sum"),
    )
    nontrivial = per_scc.filter(F.col("n_nodes") >= 2).select(
        F.col("scc").cast("long").alias("scc_id"), "n_nodes", "node_sum"
    )
    singleton = per_scc.filter(F.col("n_nodes") == 1).agg(
        F.lit(-1).cast("long").alias("scc_id"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum("node_sum"), F.lit(0)).cast("long").alias("node_sum"),
    )
    return nontrivial.unionAll(singleton).orderBy(
        F.col("n_nodes").desc(), "scc_id"
    )


# ---------------------------------------------------------------------------
# maximal independent set (Luby's algorithm, hash-priority rounds)
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 4
_MIS_INF = 1 << 62


def _mis_oracle() -> str:
    """Unrolled {_MIS_ROUNDS}-round Luby MIS as chained CTEs."""
    parts = [
        f"""
WITH e0 AS MATERIALIZED ({_PR_EDGES_SQL}
), edges AS MATERIALIZED (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), u0 AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
)"""
    ]
    for r in range(1, _MIS_ROUNDS + 1):
        parts.append(
            f""", p{r} AS MATERIALIZED (
  SELECT node, ('0x' || substr(md5('mis-' || CAST(node AS VARCHAR)
      || '-{r}'), 1, 15))::BIGINT AS p
  FROM u{r - 1}
), w{r} AS MATERIALIZED (
  SELECT a.node FROM p{r} a LEFT JOIN (
    SELECT e.dst AS node, min(p.p) AS pn
    FROM edges e JOIN p{r} p ON p.node = e.src
    GROUP BY e.dst
  ) n USING (node)
  WHERE a.p < coalesce(n.pn, {_MIS_INF})
), x{r} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN w{r} w ON w.node = e.src
  WHERE e.dst IN (SELECT node FROM u{r - 1})
    AND e.dst NOT IN (SELECT node FROM w{r})
), u{r} AS MATERIALIZED (
  SELECT node FROM u{r - 1}
  WHERE node NOT IN (SELECT node FROM w{r})
    AND node NOT IN (SELECT node FROM x{r})
)"""
        )
    legs = "\n  UNION ALL\n  ".join(
        f"""SELECT 'mis' AS status, {r} AS round,
         count(*) AS n_nodes, coalesce(sum(node), 0) AS node_sum
       FROM w{r}
  UNION ALL
  SELECT 'out', {r}, count(*), coalesce(sum(node), 0) FROM x{r}"""
        for r in range(1, _MIS_ROUNDS + 1)
    )
    parts.append(
        f"""
SELECT status, CAST(round AS INT) AS round,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(node_sum AS BIGINT) AS node_sum
FROM (
  {legs}
  UNION ALL
  SELECT 'undecided', 0, count(*), coalesce(sum(node), 0)
  FROM u{_MIS_ROUNDS}
)
WHERE n_nodes > 0
ORDER BY status, round"""
    )
    return "".join(parts)


def mis_rounds(
    spark: SparkSession, sf_dir: str, rounds: int = _MIS_ROUNDS
) -> DataFrame:
    """The ``(node, status, round)`` state after ``rounds`` rounds of
    Luby's maximal-independent-set algorithm over the symmetrized
    purchase graph: 'mis' and 'out' rows carry the round that decided
    them, 'undecided' rows round 0.  Per round every undecided node
    draws the hash priority md5_60bit('mis-<v>-<r>') and joins the MIS
    iff its priority is STRICTLY below every undecided neighbor's (a
    tie — cosmically unlikely and engine-consistent, since both
    engines replay the same md5 — just defers both nodes to the next
    round); winners' undecided neighbors leave as 'out'.  A node whose
    undecided neighborhood empties wins vacuously (min over nothing =
    +inf), so every undecided survivor always retains an undecided
    neighbor — the pytest-pinned invariant.

    Scale shape: the Pregel vertex-state superstep — one state row per
    node, one eager checkpoint per round, whose action also counts the
    undecided rows; the loop stops when none are left.  A round is
    one edge-sized join against the undecided priorities (computed
    inside the plan, never materialized) + a node-sized min-aggregate,
    one edge-sized semi-join for the winners' neighbors, and the state
    update.  BOTH edge joins key on src, so the symmetrized edges
    persist pre-partitioned by src ONCE and per round only node-sized
    tables move (the unpartitioned first cut shuffled the full edge
    set twice per round — 185.6 s at sf10).  The round count is FIXED at
    {_MIS_ROUNDS} (Luby decides a constant fraction per round w.h.p.,
    so coverage after k rounds is the published geometric envelope) —
    the oracle unrolls exactly those rounds; no convergence claim is
    made and the remainder is REPORTED, not hidden."""
    und = F.col("status") == "undecided"

    def checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
        obs = Observation()
        df = df.observe(obs, F.count(F.when(und, 1)).alias("n"))
        return df.localCheckpoint(eager=True), obs.get["n"]

    edges = persisted(_purchase_sym(spark, sf_dir).repartition("src"))
    state, n_und = checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit("undecided").alias("status"),
            F.lit(0).alias("round"),
        )
    )
    for r in range(1, rounds + 1):
        if not n_und:
            break  # all decided: a later round would change nothing
        pr = state.filter(und).select(
            "node",
            F.expr(
                f"cast(conv(substring(md5(concat_ws('-', 'mis', node, {r})),"
                " 1, 15), 16, 10) as bigint)"
            ).alias("p"),
        )
        nbr = (
            edges.join(
                pr.select(F.col("node").alias("src"), F.col("p").alias("p_src")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("p_src").alias("p_nbr"))
        )
        won = (
            pr.join(nbr, "node", "left")
            .filter(
                F.col("p")
                < F.coalesce("p_nbr", F.lit(_MIS_INF).cast("long"))
            )
            .select("node", F.lit("mis").alias("won"))
        )
        hit = (
            edges.join(
                won.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("hit", F.lit("out"))
        )
        # winners are never adjacent, so a winner is never also hit;
        # a hit node that is already decided keeps its status
        dec = F.coalesce("won", "hit")
        new = und & dec.isNotNull()
        state, n_und = checkpoint(
            state.join(won, "node", "left")
            .join(hit, "node", "left")
            .select(
                "node",
                F.when(new, dec).otherwise(F.col("status")).alias("status"),
                F.when(new, F.lit(r)).otherwise(F.col("round")).alias("round"),
            )
        )
    return state


@register("q_graph_mis", oracle=_mis_oracle())
def q_graph_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-independent-set rounds (Luby, SICOMP '86) over the
    purchase graph — the symmetry-breaking primitive behind distributed
    scheduling/coloring, run for 4 deterministic
    hash-priority rounds with per-round accounting: one row per
    (status, round) with node count + id sum ('mis' = joined the
    independent set that round, 'out' = excluded as a winner's
    neighbor, 'undecided' = the reported remainder), one aggregate
    over the final state.  RNG replaced by the md5 priority draw, so
    the oracle replays every round exactly (the q_graph_random_walks
    recipe applied to Luby)."""
    return (
        mis_rounds(spark, sf_dir)
        .groupBy("status", "round")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_sum"),
        )
        .orderBy("status", "round")
    )
