"""Graph operators over the corpus: the co-purchase graph of parts and the
nation trade graph.

A graph is a relation here — an edge list is a DataFrame and every
algorithm is joins and aggregates over it, never a driver-side graph:

- the corpus-sized pass (reducing line items to an edge list) runs once,
  before any iteration or traversal, so iteration cost is bounded by the
  edge list, not by the corpus;
- co-purchase pairs are generated within an order only, so fan-out is
  bounded by Σ basket², never all pairs of parts;
- every float is a ratio of exact integer counts (or an iterated rank)
  emitted through the 6-dp ``pround`` grid on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import pround
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.scale import (
    basket_pair_explode,
    broadcast_if_small,
    hint_merge_if_large,
)


def copurchase_pairs(
    lineitem: DataFrame, min_orders: int = 1, out: tuple[str, str, str] = ("u", "v", "n")
) -> DataFrame:
    """The co-purchase relation: part pairs ``(u, v)``, ``u < v``, bought
    together in at least ``min_orders`` orders, with ``n`` the number of
    orders holding both (``out`` names the three columns). A part repeated
    within one order counts once, and a NULL order or part key pairs with
    nothing. Pairs come from one partial-aggregable basket groupBy
    (``scale.basket_pair_explode``), never a self-join. Oracle twin:
    ``copurchase_pairs_sql``."""
    u, v, n = out
    pairs = (
        basket_pair_explode(
            lineitem.select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", out=(u, v),
        )
        .groupBy(u, v)
        .agg(F.count(F.lit(1)).alias(n))
    )
    return pairs.filter(F.col(n) >= min_orders) if min_orders > 1 else pairs


def copurchase_pairs_sql(
    min_orders: int = 1, out: tuple[str, str, str] = ("u", "v", "n")
) -> str:
    """DuckDB twin of ``copurchase_pairs`` over the ``lineitem`` table, as a
    parenthesised subquery."""
    u, v, n = out
    return f"""(
  SELECT a.l_partkey AS {u}, b.l_partkey AS {v}, count(*) AS {n}
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {min_orders})"""


@register(
    "graph_copurchase_triangles",
    oracle=f"""
WITH edges AS (SELECT u, v FROM {copurchase_pairs_sql(2)}),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT count(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_tri FROM tri) AS n_triangles,
       floor(3.0 * (SELECT n_tri FROM tri)
             / (SELECT CAST(sum(d * (d - 1) / 2) AS DOUBLE) FROM deg)
             * 1000000 + 0.5) / 1000000 AS global_clustering
""",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph — the distributed-graph
    kernel (triangle counting / global clustering coefficient) expressed
    as pure relational ops: edges are part pairs co-occurring in ≥2
    orders (oriented u < v so each triangle is found exactly once), and
    triangles come from the two-hop edge join e(u,v)⋈e(v,w)⋈e(u,w) —
    the standard all-edges/compact-forward algorithm whose join fan-out
    is Σ deg², bounded here by the basket-bounded co-purchase degrees.
    Global clustering = 3·triangles / wedges with exact integer wedge
    counts and one portable-rounded division. High clustering signals
    bundle-like demand; the same kernel over a near-dup candidate graph
    detects template families."""
    t = Tables(spark, sf_dir)
    edges = (
        copurchase_pairs(t.lineitem, 2)
        .select("u", "v")
        .transform(op_cache)  # edges feed degree, wedge, and all three triangle sides
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("b1"))
    e2 = edges.select(F.col("u").alias("b1"), F.col("v").alias("c1"))
    e3 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    tri = (
        e1.join(e2, "b1")
        .join(e3, ["a1", "c1"])
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            pround(
                3.0 * F.col("n_tri") / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Chained-CTE DuckDB PageRank: r_{k+1} = (1-d)/N + d·Σ_in p·r_k,
    unrolled for the fixed iteration count."""
    head = """
WITH edges AS (
  SELECT s_nationkey AS src, c_nationkey AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
norm AS (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
),
nodes AS (
  SELECT DISTINCT src AS nk FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
nn AS (SELECT nk, CAST(count(*) OVER () AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT nk, 1.0 / n AS r, n FROM nn)"""
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f""",
r{k} AS (
  SELECT nn.nk, {1 - _PR_DAMP} / nn.n
           + {_PR_DAMP} * coalesce(sum(norm.p * prev.r), 0) AS r, nn.n
  FROM nn
  LEFT JOIN norm ON norm.dst = nn.nk
  LEFT JOIN r{k - 1} prev ON prev.nk = norm.src
  GROUP BY nn.nk, nn.n
)"""
        )
    tail = f"""
SELECT n_name AS nation,
       floor(r{_PR_ITERS}.r * 1000000 + 0.5) / 1000000 AS pagerank
FROM r{_PR_ITERS} JOIN nation ON n_nationkey = nk
"""
    return head + "".join(steps) + tail


@register("graph_pagerank_trade", oracle=_pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 fixed iterations) over the
    supplier-nation → customer-nation trade graph: which nations sit at
    the center of the trade network, counting indirect inflows — the
    iterative-centrality family (vs trade_flow_nation_matrix's raw
    matrix). The scale shape: the expensive part — aggregating ~10⁹
    lineitems down to the ≤ nations² edge list — happens ONCE, before
    any iteration; each iteration is then a join over the tiny
    normalized edge relation, so iteration cost is independent of
    corpus size (the same aggregate-then-iterate shape as
    dedup_cluster_components and embed_kmeans_iterations). Rank mass
    from nations with no out-edges is dropped identically on both
    sides (simplified PageRank); 6-dp portable rounding caps the
    ≤ nations-term float-sum divergence."""
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast_if_small(
                t.customer.select("c_custkey", "c_nationkey"), sf_dir, "customer"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        # op_cache (optimization r16, guide §5 caching + §2.4): the edge
        # aggregate — the ONE corpus-sized pass in this operator — is
        # referenced 11 times by the unrolled plan (norm feeds each of the
        # 3 iteration joins; nodes/nn read it twice per rank rebuild).
        # Uncached, only SOME of those copies were salvaged by
        # ReuseExchange (the optimizer planned a 683-line physical tree),
        # and the optimizer itself paid for every duplicate. Caching the
        # ≤ nations² relation makes the lineitem join-aggregation run
        # exactly once at any corpus size.
        .transform(op_cache)
    )
    # norm / nn are dimension-sized derivations of the cached edges, each
    # referenced 3-4 times by the unrolled iterations: cache them too so an
    # iteration step reads two tiny in-memory relations instead of
    # re-running the window / distinct per reference.
    norm = edges.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    ).transform(op_cache)
    nodes = (
        edges.select(F.col("src").alias("nk"))
        .union(edges.select(F.col("dst").alias("nk")))
        .distinct()
    )
    nn = nodes.select(
        "nk",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("double").alias("n"),
    ).transform(op_cache)
    ranks = nn.select("nk", (F.lit(1.0) / F.col("n")).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            norm.join(
                ranks.select(F.col("nk").alias("src_nk"), "r"),
                F.col("src") == F.col("src_nk"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("r")).alias("cin"))
        )
        ranks = nn.join(
            contrib, nn["nk"] == contrib["dst"], "left"
        ).select(
            "nk",
            (
                F.lit(1 - _PR_DAMP) / F.col("n")
                + F.lit(_PR_DAMP) * F.coalesce(F.col("cin"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.join(
        F.broadcast(t.nation),
        F.col("nk") == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"), pround(F.col("r")).alias("pagerank")
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH edges AS (SELECT u AS pa, v AS pb FROM {copurchase_pairs_sql()}),
und AS (SELECT pa AS p, pb AS q FROM edges
        UNION ALL SELECT pb, pa FROM edges),
deg AS (SELECT p, count(*) AS degree FROM und GROUP BY p),
banded AS (SELECT CAST(floor(ln(degree) / ln(2)) AS BIGINT) AS degree_band,
                  degree FROM deg)
SELECT degree_band, count(*) AS n_parts,
       CAST(min(degree) AS BIGINT) AS min_degree,
       CAST(max(degree) AS BIGINT) AS max_degree
FROM banded GROUP BY 1
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree distribution: parts are nodes, an edge
    joins two parts appearing in the same order, and the output is the
    log2-banded histogram of node degrees (the hub-detection profile that
    decides whether a downstream graph algorithm needs skew handling).
    Pair generation is orderkey-blocked, so fan-out is bounded by
    sum(basket_size^2) — baskets are <=7 lines in this corpus — never
    all-pairs across parts; degree aggregation and banding are
    partial-aggregable single-shuffle steps. Output is <=64 bands at any
    corpus size."""
    edges = copurchase_pairs(
        Tables(spark, sf_dir).lineitem, out=("pa", "pb", "n")
    ).select("pa", "pb")
    und = edges.select(F.col("pa").alias("p")).unionAll(
        edges.select(F.col("pb").alias("p"))
    )
    deg = und.groupBy("p").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.select(
            F.floor(F.log2("degree")).alias("degree_band"), "degree"
        )
        .groupBy("degree_band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
    )


_LINKPRED_SQL = f"""
WITH edges AS (SELECT u AS pa, v AS pb FROM {copurchase_pairs_sql()}),
und AS (SELECT pa AS p, pb AS q FROM edges UNION ALL SELECT pb, pa FROM edges),
deg AS (SELECT p, count(*) AS d FROM und GROUP BY p),
cand AS (
  SELECT u1.p AS a, u2.q AS b, count(*) AS common
  FROM und u1 JOIN und u2 ON u1.q = u2.p
  WHERE u1.p < u2.q
  GROUP BY u1.p, u2.q),
noedge AS (
  SELECT c.a, c.b, c.common FROM cand c
  LEFT JOIN edges e ON e.pa = c.a AND e.pb = c.b
  WHERE e.pa IS NULL),
scored AS (
  SELECT n.a, n.b, n.common,
         CAST(floor(n.common * 1.0 / (da.d + db.d - n.common)
                    * 1000000 + 0.5) / 1000000 AS DOUBLE) AS jaccard
  FROM noedge n JOIN deg da ON da.p = n.a JOIN deg db ON db.p = n.b)
SELECT a, b, CAST(common AS BIGINT) AS common, jaccard
FROM scored ORDER BY jaccard DESC, a, b LIMIT 15
"""


@register("graph_link_prediction_jaccard", oracle=_LINKPRED_SQL)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph (Liben-Nowell & Kleinberg
    2003 neighborhood methods): candidate pairs are exactly the 2-hop
    walks (one self-join of the undirected edge list on the shared
    middle node — never all-pairs), scored by neighborhood Jaccard
    |N(a) int N(b)| / |N(a) un N(b)| with the union expanded as
    deg(a)+deg(b)-common so no neighbor-set materialization is needed,
    existing edges anti-joined out, top-15 with full tie-breaks. This is
    the "customers who bought X also bought Y" recommender primitive;
    candidate fan-out is sum(deg^2) — 298M intermediate rows at sf0.1 —
    so the pair aggregation is EXPLICITLY repartitioned wide (256 on the
    pair key; the groupBy reuses that exchange, so per-task hash-agg
    state stays ~1M pairs instead of ~9M, which OOM'd a 24g local heap
    at the 32-partition session default; AQE coalesces the width back
    down at small SF). Rounding uses the portable floor(x*1e6+0.5)/1e6
    on both sides. Oracle: the original single-statement SQL form."""
    t = Tables(spark, sf_dir)
    edges = copurchase_pairs(t.lineitem, out=("pa", "pb", "n")).select("pa", "pb")
    und = edges.select(F.col("pa").alias("p"), F.col("pb").alias("q")).unionAll(
        edges.select(F.col("pb").alias("p"), F.col("pa").alias("q"))
    )
    deg = und.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    u1 = und.select(F.col("p").alias("a"), F.col("q").alias("mid"))
    u2 = und.select(F.col("p").alias("mid"), F.col("q").alias("b"))
    pair_in = u1.join(
        hint_merge_if_large(u2, sf_dir, "lineitem"), "mid"
    ).filter(
        F.col("a") < F.col("b")
    )
    # Wide explosion stage, gated on corpus bytes: an explicit repartition
    # is NOT AQE-coalescible, so only pay the 256-way exchange when the
    # two-hop fan-out is large. The threshold is deliberately LOW (4 MiB of
    # lineitem parquet): fan-out is quadratic-in-degree, not linear in
    # input bytes — 11 MB of sf0.1 lineitem explodes to 298M pair rows,
    # which OOM'd a 24 GB heap at the 32-partition default. sf0.01 stays
    # narrow; the gate fails CLOSED into the wide/safe path on non-local
    # paths. The groupBy below reuses this exchange either way.
    from ai_dataingestion_spark.scale import table_bytes_under

    if not table_bytes_under(sf_dir, "lineitem", 4 * 1024 * 1024):
        pair_in = pair_in.repartition(256, "a", "b")
    cand = pair_in.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    noedge = cand.join(
        edges,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("p").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("b"), F.col("d").alias("db"))
    jac = F.col("common") / (F.col("da") + F.col("db") - F.col("common"))
    scored = (
        noedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("bigint").alias("common"),
            (F.floor(jac * 1_000_000 + 0.5) / 1_000_000)
            .cast("double")
            .alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("a"), F.asc("b")
    ).limit(15)
