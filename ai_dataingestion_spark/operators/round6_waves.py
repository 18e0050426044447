"""Round-6 operator waves (SURVEY.md §2.R), consolidated from the former
per-wave modules round6a–round6z (registration order preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    dims_sql,
    hash60_expr,
    hash60_sql,
    pround,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.scale import broadcast_if_small
import os
from ai_dataingestion_spark.registry import Tables


# ===========================================================================
# wave module round6b (formerly operators/round6b.py)
# Round-5 twenty-eighth wave (SURVEY.md §2.Q, continued): a log2
# heavy-tail histogram.
# ===========================================================================

@register(
    "agg_log2_histogram",
    oracle="""
SELECT CAST(floor(ln(o_totalprice) / ln(2)) AS BIGINT) AS log2_bin,
       count(*) AS n,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS bin_min,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS bin_max
FROM orders WHERE o_totalprice > 0
GROUP BY 1
""",
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂ (powers-of-two band) histogram of order totals — the
    binning that actually renders heavy-tailed money/size/latency
    distributions, where agg_histogram_bins' equi-width bands put 95%
    of rows in bin 0 and agg_equidepth_histogram hides the tail's
    magnitude. bin = ⌊ln x / ln 2⌋ on positives — pure comparison-free
    expression arithmetic (ln is correctly-rounded IEEE in both
    engines, and the floor boundary sits at exact powers of two no
    corpus double lands on). Output bounded by the value range's
    log, ~20 rows at any scale."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_totalprice") > 0)
    bin_ = F.floor(F.log(F.col("o_totalprice")) / F.log(F.lit(2.0))).cast(
        "bigint"
    )
    return o.groupBy(bin_.alias("log2_bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).cast("double").alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).cast("double").alias("bin_max"),
    )


# ===========================================================================
# wave module round6c (formerly operators/round6c.py)
# Round-5 twenty-ninth wave (SURVEY.md §2.Q, continued): the
# median-of-means robust estimator.
# ===========================================================================


_MOM_BUCKETS = 10


@register(
    "agg_median_of_means",
    oracle=f"""
WITH bucketed AS (
  SELECT {hash60_sql("CAST(o_orderkey AS VARCHAR)")} % {_MOM_BUCKETS} AS bkt,
         CAST(o_totalprice AS DECIMAL(38, 2)) AS v
  FROM orders
),
bucket_means AS (
  SELECT bkt,
         floor(CAST(sum(v) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
           AS m
  FROM bucketed GROUP BY bkt
),
overall AS (
  SELECT floor(CAST(sum(v) AS DOUBLE)
               / count(*) * 1000000 + 0.5) / 1000000 AS plain_mean
  FROM bucketed
)
SELECT {_MOM_BUCKETS} AS n_buckets,
       (SELECT plain_mean FROM overall) AS plain_mean,
       CAST((SELECT quantile_cont(m, 0.5) FROM bucket_means) AS DOUBLE)
         AS median_of_means
""",
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimation: rows hash into
    {_MOM_BUCKETS} buckets (deterministic md5 assignment — the
    split_train_eval idiom), each bucket's mean is computed from exact
    DECIMAL sums, and the estimator is the MEDIAN of those bucket
    means — sub-Gaussian concentration under heavy tails where the
    plain mean is hostage to outliers, and the estimator behind
    sketch-style robust aggregation at scale (each bucket is a
    partial-aggregable group; only k means meet the median). Plain
    mean emitted alongside for the comparison the estimator exists to
    win."""
    o = Tables(spark, sf_dir).orders
    bkt = F.expr(hash60_expr("cast(o_orderkey as string)")) % _MOM_BUCKETS
    dec = F.col("o_totalprice").cast("decimal(38,2)")
    bucketed = o.select(bkt.alias("bkt"), dec.alias("v"))
    bucket_means = bucketed.groupBy("bkt").agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    overall = bucketed.agg(
        pround(F.sum("v").cast("double") / F.count(F.lit(1))).alias(
            "plain_mean"
        )
    )
    mom = bucket_means.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY m)").alias(
            "median_of_means"
        )
    )
    return (
        overall.crossJoin(F.broadcast(mom))
        .select(
            F.lit(_MOM_BUCKETS).alias("n_buckets"),
            "plain_mean",
            "median_of_means",
        )
    )


# ===========================================================================
# wave module round6f (formerly operators/round6f.py)
# Round-5 thirty-second wave (SURVEY.md §2.Q, continued): NULL ordering
# semantics.
# ===========================================================================


@register(
    "sort_null_ordering",
    oracle="""
WITH injected AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
),
nf AS (
  SELECT c_custkey FROM injected
  ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 5
),
nl AS (
  SELECT c_custkey FROM injected
  ORDER BY bal ASC NULLS LAST, c_custkey LIMIT 5
)
SELECT 'nulls_first' AS ordering,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum,
       (SELECT CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM injected) AS n_nulls_total
FROM nf
UNION ALL
SELECT 'nulls_last', CAST(count(*) AS BIGINT), CAST(sum(c_custkey) AS BIGINT),
       (SELECT CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM injected)
FROM nl
""",
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ordering semantics pinned (§2.F completion): the top-5 rows
    under explicit NULLS FIRST vs NULLS LAST over a null-injected sort
    key — the checksum differs exactly because nulls flood the head of
    one ordering and not the other. The DEFAULTS disagree across
    engines (Spark ascending sorts NULLS FIRST, DuckDB NULLS LAST), so
    portable sorts must always spell the null position explicitly —
    this operator is the executable reminder. Key tiebreak makes both
    cuts deterministic."""
    c = Tables(spark, sf_dir).customer
    injected = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    n_nulls = injected.agg(
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls_total")
    )

    def top5(df: DataFrame, first: bool, label: str) -> DataFrame:
        key = (
            F.col("bal").asc_nulls_first()
            if first
            else F.col("bal").asc_nulls_last()
        )
        sel = df.orderBy(key, F.col("c_custkey").asc()).limit(5)
        return sel.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        ).select(F.lit(label).alias("ordering"), "n_rows", "key_sum")

    return (
        top5(injected, True, "nulls_first")
        .unionByName(top5(injected, False, "nulls_last"))
        .crossJoin(F.broadcast(n_nulls))
    )


# ===========================================================================
# wave module round6g (formerly operators/round6g.py)
# Round-5 thirty-third wave (SURVEY.md §2.Q, continued): weighted
# medians.
# ===========================================================================

@register(
    "agg_weighted_median",
    oracle="""
WITH grouped AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS DECIMAL(38, 2))) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
cum AS (
  SELECT l_returnflag, v, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM grouped
)
SELECT l_returnflag,
       CAST(round(min(CASE WHEN cw * 2 >= tw THEN v END), 2) AS DOUBLE)
         AS weighted_median_price,
       CAST(round(max(tw), 2) AS DOUBLE) AS total_weight
FROM cum GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    "the price at which half the UNITS trade", which the unweighted
    median (half the LINES) misrepresents whenever order sizes vary.
    Weights accumulate in DECIMAL and the half-total test is the exact
    comparison cw·2 ≥ tw (the brand_pareto_coverage no-division rule);
    the cumulative window runs over the (flag, distinct-price)
    aggregate, not raw lines."""
    li = Tables(spark, sf_dir).lineitem
    grouped = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).alias("w")
    )
    # asc_nulls_last: the NULL-price cell must accumulate at the END of the
    # cumulative weight (oracle ORDER BY v default) — at the front it
    # shifts the half-total crossing and the reported median
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        F.asc_nulls_last("v")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grouped.select(
        "l_returnflag",
        "v",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("v"))), 2
        )
        .cast("double")
        .alias("weighted_median_price"),
        F.round(F.max("tw"), 2).cast("double").alias("total_weight"),
    )


# ===========================================================================
# wave module round6h (formerly operators/round6h.py)
# Round-5 thirty-fourth wave (SURVEY.md §2.Q, continued): weighted
# PageRank over the nation trade graph.
# ===========================================================================


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


# ===========================================================================
# wave module round6i (formerly operators/round6i.py)
# Round-5 thirty-fifth wave (SURVEY.md §2.Q, continued): Theil
# inequality-index decomposition.
# ===========================================================================


@register(
    "agg_theil_decomposition",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS sk,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS x
  FROM lineitem GROUP BY l_suppkey
),
sup AS (
  SELECT n_name, x FROM rev
  JOIN supplier ON sk = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
),
grp AS (
  SELECT n_name, sum(x) AS gx, count(*) AS gn FROM sup GROUP BY n_name
),
tot AS (
  SELECT n_name, gx, gn,
         sum(gx) OVER () AS tx, sum(gn) OVER () AS tn
  FROM grp
),
terms AS (
  SELECT s.n_name,
         sum((s.x / (t.gx / t.gn)) * ln(s.x / (t.gx / t.gn))) / t.gn
           AS t_within,
         max(t.gx / t.tx) AS share,
         max((t.gx / t.tx) * ln((t.gx / t.gn) / (t.tx / t.tn)))
           AS between_term
  FROM sup s JOIN tot t ON s.n_name = t.n_name
  GROUP BY s.n_name, t.gn
)
SELECT n_name AS nation,
       round(share, 6) AS revenue_share,
       round(t_within, 6) AS t_within,
       round(share * t_within, 6) AS contrib_within,
       round(between_term, 6) AS between_term
FROM terms
""",
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of supplier revenue by nation:
    T_total = Σ_g s_g·T_g (within) + Σ_g s_g·ln(μ_g/μ) (between) — the
    additive inequality index Gini lacks (supplier_revenue_gini is the
    non-decomposable sibling). Per-supplier revenue accumulates in
    DECIMAL so the x_i doubles are bit-identical across engines before
    any ln touches them; nation-level means/shares derive from the
    nations-sized aggregate (window sums over 25 rows), broadcast back
    for the per-supplier entropy terms, and the only corpus-sized
    shuffle is the l_suppkey revenue groupBy."""
    t = Tables(spark, sf_dir)
    rev = t.lineitem.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("x")
    )
    sup = (
        rev.join(
            broadcast_if_small(
                t.supplier.select("s_suppkey", "s_nationkey"), sf_dir, "supplier"
            ),
            F.col("sk") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "x")
    )
    grp = sup.groupBy("n_name").agg(
        F.sum("x").alias("gx"), F.count(F.lit(1)).alias("gn")
    )
    w_all = Window.partitionBy()
    tot = grp.select(
        F.col("n_name").alias("tn_name"),
        "gx",
        "gn",
        F.sum("gx").over(w_all).alias("tx"),
        F.sum("gn").over(w_all).alias("tn"),
    )
    mu_g = F.col("gx") / F.col("gn")
    joined = sup.join(
        F.broadcast(tot), F.col("n_name") == F.col("tn_name")
    )
    terms = joined.groupBy("n_name", "gn").agg(
        (
            F.sum((F.col("x") / mu_g) * F.log(F.col("x") / mu_g))
            / F.first("gn")
        ).alias("t_within"),
        F.max(F.col("gx") / F.col("tx")).alias("share"),
        F.max(
            (F.col("gx") / F.col("tx"))
            * F.log(mu_g / (F.col("tx") / F.col("tn")))
        ).alias("between_term"),
    )
    return terms.select(
        F.col("n_name").alias("nation"),
        F.round("share", 6).alias("revenue_share"),
        F.round("t_within", 6).alias("t_within"),
        F.round(F.col("share") * F.col("t_within"), 6).alias(
            "contrib_within"
        ),
        F.round("between_term", 6).alias("between_term"),
    )


# ===========================================================================
# wave module round6k (formerly operators/round6k.py)
# Round-5 thirty-seventh wave (SURVEY.md §2.Q, continued): a
# deterministic Poisson-bootstrap confidence interval.
# ===========================================================================


# Truncated-Poisson(1) weight thresholds: P(0)=e⁻¹, P(1)=e⁻¹, P(2)=e⁻¹/2,
# remaining mass (~0.019) lumped into w=3. Written as literals so both
# engines compare the SAME doubles against the SAME portable-hash uniform.
_P0 = "0.36787944117144233"
_P1 = "0.7357588823428847"
_P2 = "0.9196986029286058"
_B_REPS = 32
_HASH_SCALE = float(1 << 60)


@register(
    "agg_bootstrap_mean_ci",
    oracle=f"""
WITH reps AS (SELECT unnest(range(0, {_B_REPS})) AS b),
wts AS (
  SELECT b,
         CAST(o_totalprice AS DECIMAL(38,2)) AS x,
         CASE
           WHEN u < {_P0} THEN 0
           WHEN u < {_P1} THEN 1
           WHEN u < {_P2} THEN 2
           ELSE 3
         END AS w
  FROM (
    SELECT b, o_totalprice,
           CAST({hash60_sql("CAST(o_orderkey AS VARCHAR) || '-' || CAST(b AS VARCHAR)")}
                AS DOUBLE) / {_HASH_SCALE} AS u
    FROM orders CROSS JOIN reps
  )
),
means AS (
  SELECT b, CAST(sum(w * x) AS DOUBLE) / sum(w) AS m
  FROM wts GROUP BY b HAVING sum(w) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS rn,
         count(*) OVER () AS nb
  FROM means
)
SELECT CAST(max(nb) AS BIGINT) AS n_replicas,
       round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
       round(max(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi,
       (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2)))
                          AS DOUBLE) / count(*), 6)
        FROM orders) AS grand_mean
FROM ranked
""",
)
def agg_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value,
    fully deterministic and shuffle-light: each of 32 replicas
    reweights every order by a truncated-Poisson(1) draw derived from
    the portable md5 hash of (orderkey, replica) — the classic
    single-pass bootstrap for distributed data (Chamandy 2012, no
    resampling shuffle, no driver collect). The explode is a map-side
    ×32 flatMap; the only shuffle carries 32 partially-aggregated
    (Σwx DECIMAL, Σw) pairs per task, so cost is linear in B and the
    CI never sees a skewed key. The interval is the 2nd/31st order
    statistics of the replica means (≈90% percentile CI); weights w>3
    are truncated identically on both sides."""
    o = Tables(spark, sf_dir).orders
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_B_REPS - 1))
    ).alias("b")
    ex = o.select(
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(38,2)").alias("x"),
        b,
    )
    u = (
        F.expr(
            hash60_expr(
                "concat(CAST(o_orderkey AS STRING), '-', CAST(b AS STRING))"
            )
        ).cast("double")
        / F.lit(_HASH_SCALE)
    )
    wts = ex.select(
        "b",
        "x",
        F.when(u < float(_P0), 0)
        .when(u < float(_P1), 1)
        .when(u < float(_P2), 2)
        .otherwise(3)
        .alias("w"),
    )
    means = (
        wts.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select((F.col("swx").cast("double") / F.col("sw")).alias("m"))
    )
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    grand = o.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("grand_mean")
    )
    ci = ranked.agg(
        F.max("nb").cast("bigint").alias("n_replicas"),
        F.round(
            F.max(F.when(F.col("rn") == 2, F.col("m"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == F.col("nb") - 1, F.col("m"))), 6
        ).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(grand)).select(
        "n_replicas", "ci_lo", "ci_hi", "grand_mean"
    )


# ===========================================================================
# wave module round6l (formerly operators/round6l.py)
# Round-5 thirty-eighth wave (SURVEY.md §2.Q, continued): a
# three-strategy join-equivalence proof.
# ===========================================================================


_JOIN_STRATEGIES = ("broadcast", "shuffle_hash", "merge")


def _strategy_oracle() -> str:
    one = """
SELECT '{s}' AS strategy,
       count(DISTINCT c_mktsegment) AS n_segments,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey"""
    return "\nUNION ALL\n".join(
        one.format(s=s) for s in _JOIN_STRATEGIES
    )


@register("join_strategy_equivalence", oracle=_strategy_oracle())
def join_strategy_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-strategy independence proof for the orders ⋈ customer
    revenue rollup: the SAME logical join executed three ways —
    broadcast-hash, shuffled-hash, and sort-merge (per-branch join
    hints, pinned in plan tests as three distinct physical operators) —
    must produce identical aggregates. This is the join sibling of
    topk_per_group_strategies / dedup_partition_invariance: the
    property that makes strategy a pure COST decision at 100 TB (AQE
    may flip a merge join to broadcast at runtime precisely because
    the result cannot change). DECIMAL revenue so the three sums are
    bit-identical, not merely close."""
    t = Tables(spark, sf_dir)
    parts = []
    for s in _JOIN_STRATEGIES:
        joined = t.orders.join(
            t.customer.hint(s), F.col("o_custkey") == F.col("c_custkey")
        )
        parts.append(
            joined.agg(
                F.countDistinct("c_mktsegment").alias("n_segments"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(38,2)")), 2
                )
                .cast("double")
                .alias("total_revenue"),
            ).select(
                F.lit(s).alias("strategy"), "n_segments", "total_revenue"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ===========================================================================
# wave module round6m (formerly operators/round6m.py)
# Round-5 thirty-ninth wave (SURVEY.md §2.Q, continued): epsilon
# similarity join on scalars without a cartesian.
# ===========================================================================

_EPS = 5.0


@register(
    "join_epsilon_float",
    oracle=f"""
SELECT n_name AS nation, count(*) AS n_pairs
FROM supplier
JOIN customer ON abs(s_acctbal - c_acctbal) <= {_EPS}
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_epsilon_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-join on a scalar (|s_acctbal − c_acctbal| ≤ ε) WITHOUT
    the cartesian product the theta-join definition implies: both
    sides bucket to floor(bal/ε), the customer side expands to its
    three candidate buckets {b−1, b, b+1} (a row within ε of bal must
    sit in one of them), and the join becomes a hash-partitioned
    EQUALITY join on bucket followed by the exact |Δ| ≤ ε verify —
    candidate volume is bounded by 3× the true near-pair density
    instead of |S|×|C|. Each true pair is counted exactly once because
    a supplier's single bucket matches exactly one of the three
    expanded candidates. The oracle states the quadratic theta-join
    definition; the plan test pins no-cartesian on the engine side."""
    t = Tables(spark, sf_dir)
    s = t.supplier.select(
        "s_nationkey",
        F.col("s_acctbal").alias("sb"),
        F.floor(F.col("s_acctbal") / _EPS).alias("bk"),
    )
    c = t.customer.select(
        F.col("c_acctbal").alias("cb"),
        F.explode(
            F.array(
                F.floor(F.col("c_acctbal") / _EPS) - 1,
                F.floor(F.col("c_acctbal") / _EPS),
                F.floor(F.col("c_acctbal") / _EPS) + 1,
            )
        ).alias("bk"),
    )
    pairs = s.join(c, "bk").where(
        F.abs(F.col("sb") - F.col("cb")) <= _EPS
    )
    return (
        pairs.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ===========================================================================
# wave module round6n (formerly operators/round6n.py)
# Round-5 fortieth wave (SURVEY.md §2.Q, continued): foreachBatch
# streaming UPSERT (merge, not append) and stratified-sampling
# estimator variance.
# ===========================================================================

@register(
    "stream_foreachbatch_upsert",
    oracle="""
WITH ranked AS (
  -- user_id IS NOT NULL both sides: upsert state is keyed by user, and
  -- the correlated count below is null-unsafe anyway (count 0 for NULL)
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
)
SELECT user_id,
       (SELECT count(*) FROM events e WHERE e.user_id = ranked.user_id)
         AS n_events,
       -- finite gate on the summed METRIC only (nan-tier contract):
       -- event counts keep every row, but ±Inf cannot enter the exact
       -- DECIMAL state column (conversion error here, NULL-poison there)
       (SELECT CAST(round(sum(CASE WHEN isfinite(value)
                               THEN CAST(value AS DECIMAL(38,6)) END), 2)
               AS DOUBLE)
        FROM events e WHERE e.user_id = ranked.user_id) AS total_value,
       event_type AS last_type
FROM ranked WHERE rn = 1
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT via foreachBatch — last-writer-wins state merge,
    the semantics ingest_incremental's dedup-append cannot express:
    each micro-batch folds into a per-user state table (event count,
    DECIMAL value total, latest event type by (ts, event_id)) by
    re-aggregating old ⊕ new. The merge is associative because every
    state column is a monoid — counts add, decimals add, and 'latest'
    is max over a (ts, event_id, type) struct — which is exactly what
    makes the pattern batch-order-independent and therefore
    replay-safe at scale. State lands in alternating generation dirs
    (write-new-then-advance), never read-and-overwrite in place. Final
    answer must equal the batch aggregate over all events."""
    from ai_dataingestion_spark.streaming.incremental import (
        _RAW_EVENTS_DDL,
        _read_stream,
        _run_available_now,
        stage_event_files,
    )

    staging = stage_event_files(spark, sf_dir, n_files=3)
    root = op_tmpdir("upsert_state_")
    ckpt = op_tmpdir("upsert_ckpt_")
    state_schema = (
        "user_id bigint, n_events bigint, sum_value decimal(38,6), "
        "latest struct<ts:timestamp_ntz,event_id:bigint,event_type:string>"
    )

    def _gen_dir(gen: int) -> str:
        return os.path.join(root, f"gen={gen}")

    def _latest_gen() -> int:
        gens = [
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("gen=")
        ]
        return max(gens, default=-1)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # upsert state is keyed by user: no user, no state row (oracle
        # mirrors with user_id IS NOT NULL)
        batch_df = batch_df.where(F.col("user_id").isNotNull())
        # finite gate on the summed METRIC only (nan-tier contract,
        # mirrored in the oracle): counts keep every event, but a ±Inf
        # value must not enter the exact DECIMAL state column
        from ai_dataingestion_spark.functions.portable import finite

        batch_state = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(finite("value"), F.col("value")).cast("decimal(38,6)")
            )
            .cast("decimal(38,6)")
            .alias("sum_value"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("latest"),
        )
        gen = _latest_gen()
        if gen >= 0:
            old = sess.read.schema(state_schema).parquet(_gen_dir(gen))
            merged = (
                old.unionByName(batch_state)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
                    F.max("latest").alias("latest"),
                )
            )
        else:
            merged = batch_state
        merged.write.mode("overwrite").parquet(_gen_dir(gen + 1))

    _run_available_now(
        _read_stream(spark, staging)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
    )
    gen = _latest_gen()
    if gen < 0:
        # empty corpus: zero micro-batches fired, no state generation
        # exists — return the empty result in the contract schema
        return spark.createDataFrame(
            [],
            "user_id bigint, n_events bigint, total_value double, "
            "last_type string",
        )
    final = spark.read.schema(state_schema).parquet(_gen_dir(gen))
    return final.select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("total_value"),
        F.col("latest.event_type").alias("last_type"),
    )


@register(
    "agg_stratified_estimator_variance",
    oracle="""
WITH strat AS (
  SELECT c_mktsegment,
         count(*) AS nh,
         sum(CAST(c_acctbal AS DECIMAL(38,2))) AS s1,
         sum(CAST(c_acctbal AS DECIMAL(38,2))
             * CAST(c_acctbal AS DECIMAL(38,2))) AS s2
  FROM customer GROUP BY c_mktsegment
),
g AS (
  SELECT nh, s1, s2,
         CAST(s1 AS DOUBLE) / nh AS mh,
         CAST(nh * s2 - s1 * s1 AS DOUBLE) / (CAST(nh AS DOUBLE) * (nh - 1))
           AS vh,
         sum(nh) OVER () AS n,
         sum(s1) OVER () AS t1,
         sum(s2) OVER () AS t2
  FROM strat
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       round(CAST(max(t1) AS DOUBLE) / max(n), 6) AS strat_mean,
       round(sqrt(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                      * vh / nh)), 6) AS se_stratified,
       round(sqrt(CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                  / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS se_srs,
       round(sum((CAST(nh AS DOUBLE) / n) * (CAST(nh AS DOUBLE) / n)
                 * vh / nh)
             / (CAST(max(n) * max(t2) - max(t1) * max(t1) AS DOUBLE)
                / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) / max(n)), 6)
         AS design_effect
FROM g
""",
)
def agg_stratified_estimator_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified-sampling estimator variance for mean account balance
    with c_mktsegment strata: SE under proportional stratification
    (Σ W_h² s_h²/n_h), SE under simple random sampling, and their
    ratio — the DESIGN EFFECT that says how much a stratified sample
    plan buys (deff < 1: strata explain balance variance; ≈ 1: they
    don't). The survey-sampling math every data-subsample pipeline
    (split_train_eval, sample_stratified) implicitly relies on. All
    variances assemble from EXACT decimal moment sums (Σx, Σx² per
    stratum, window-totaled over the 5-row strata relation) — the
    events_interarrival_burstiness portability rule — so both engines
    evaluate identical doubles."""
    c = Tables(spark, sf_dir).customer
    xd = F.col("c_acctbal").cast("decimal(38,2)")
    strat = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(xd).alias("s1"),
        F.sum(xd * xd).alias("s2"),
    )
    w_all = Window.partitionBy()
    g = strat.select(
        "nh",
        "s1",
        "s2",
        (
            (
                F.col("nh") * F.col("s2") - F.col("s1") * F.col("s1")
            ).cast("double")
            / (F.col("nh").cast("double") * (F.col("nh") - 1))
        ).alias("vh"),
        F.sum("nh").over(w_all).alias("n"),
        F.sum("s1").over(w_all).alias("t1"),
        F.sum("s2").over(w_all).alias("t2"),
    )
    nn = F.max("n").cast("double")
    var_strat = F.sum(
        (F.col("nh").cast("double") / F.col("n"))
        * (F.col("nh").cast("double") / F.col("n"))
        * F.col("vh")
        / F.col("nh")
    )
    var_srs = (
        (F.max("n") * F.max("t2") - F.max("t1") * F.max("t1")).cast(
            "double"
        )
        / (nn * (F.max("n") - 1))
        / F.max("n")
    )
    return g.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.max("t1").cast("double") / F.max("n"), 6).alias(
            "strat_mean"
        ),
        F.round(F.sqrt(var_strat), 6).alias("se_stratified"),
        F.round(F.sqrt(var_srs), 6).alias("se_srs"),
        F.round(var_strat / var_srs, 6).alias("design_effect"),
    )


# ===========================================================================
# wave module round6q (formerly operators/round6q.py)
# Round-5 forty-third wave (SURVEY.md §2.Q, continued): nested-JSON
# round-trip parity.
# ===========================================================================


@register(
    "fn_json_nested_roundtrip",
    oracle="""
WITH built AS (
  SELECT o_orderkey AS k,
         to_json(struct_pack(
           id := o_orderkey,
           meta := struct_pack(st := o_orderstatus, pr := o_orderpriority),
           arr := [o_custkey, o_orderkey % 100]
         )) AS j,
         o_orderstatus, o_custkey
  FROM orders
),
parsed AS (
  SELECT k, o_orderstatus, o_custkey,
         CAST(json_extract(j, '$.id') AS BIGINT) AS rid,
         json_extract_string(j, '$.meta.st') AS rst,
         CAST(json_extract(j, '$.arr[0]') AS BIGINT) AS rarr0
  FROM built
)
SELECT count(*) AS n_total,
       count(CASE WHEN rid = k AND rst = o_orderstatus
                   AND rarr0 = o_custkey THEN 1 END) AS n_roundtrip_ok,
       CAST(sum(rarr0) AS BIGINT) AS custkey_checksum
FROM parsed
""",
)
def fn_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON construct → serialize → re-parse round-trip: each
    order becomes a document with a nested struct and an array field,
    then every value is extracted back by path and compared to its
    origin — the schema-on-write/schema-on-read contract fn_json's
    flat props extraction doesn't cover (nested paths `$.meta.st`,
    array indexing `$.arr[0]`). Each engine round-trips its OWN
    serialization, so the parity check is on the recovered VALUES —
    all n rows must survive intact on both sides. Pure JVM-side
    expressions (to_json/from_json), zero Python, one scan."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    o = Tables(spark, sf_dir).orders
    built = o.select(
        F.col("o_orderkey").alias("k"),
        "o_orderstatus",
        "o_custkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.struct(
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_orderpriority").alias("pr"),
                ).alias("meta"),
                F.array(
                    F.col("o_custkey"), F.col("o_orderkey") % 100
                ).alias("arr"),
            )
        ).alias("j"),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("st", StringType()),
                        StructField("pr", StringType()),
                    ]
                ),
            ),
            StructField("arr", ArrayType(LongType())),
        ]
    )
    parsed = built.select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.from_json("j", schema).alias("p"),
    ).select(
        "k",
        "o_orderstatus",
        "o_custkey",
        F.col("p.id").alias("rid"),
        F.col("p.meta.st").alias("rst"),
        F.col("p.arr").getItem(0).alias("rarr0"),
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(
            F.when(
                (F.col("rid") == F.col("k"))
                & (F.col("rst") == F.col("o_orderstatus"))
                & (F.col("rarr0") == F.col("o_custkey")),
                1,
            )
        ).alias("n_roundtrip_ok"),
        F.sum("rarr0").cast("bigint").alias("custkey_checksum"),
    )


# ===========================================================================
# wave module round6r (formerly operators/round6r.py)
# Round-5 forty-fourth wave (SURVEY.md §2.Q, continued): higher-order
# array reduction (Horner).
# ===========================================================================


@register(
    "fn_array_reduce_horner",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, CAST(x AS DOUBLE) AS c, pos AS i
  FROM (SELECT vec_id, {dims_sql()} FROM embeddings
        WHERE embedding IS NOT NULL)
),
vals AS (
  SELECT vec_id, sum(c * power(0.5, i)) AS h FROM ex GROUP BY vec_id
)
SELECT count(*) AS n_vectors,
       round(avg(h), 6) AS mean_value,
       round(min(h), 6) AS min_value,
       round(max(h), 6) AS max_value
FROM vals
""",
)
def fn_array_reduce_horner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order ARRAY REDUCTION with a non-commutative fold:
    each embedding, read as polynomial coefficients, is evaluated at
    x = 0.5 by Horner's rule — F.aggregate over the reversed array
    with acc ← acc·x + cᵢ, the fold shape fn_array_hof's map/filter
    lambdas don't exercise (order matters; the lambda carries state).
    The whole evaluation happens INSIDE codegen per row — no explode,
    no shuffle until the 1-row corpus summary. The oracle evaluates
    the mathematically identical power sum Σ cᵢ·0.5^i; with |x| < 1
    the two orderings agree far beyond the 6-dp comparison."""
    # NULL embeddings are no polynomial: the oracle's unnest drops them
    # from vals entirely, so the count must exclude them here too.
    e = Tables(spark, sf_dir).embeddings.where(F.col("embedding").isNotNull())
    vals = e.select(
        F.aggregate(
            F.reverse(F.col("embedding")),
            F.lit(0.0),
            lambda acc, c: acc * 0.5 + c.cast("double"),
        ).alias("h")
    )
    return vals.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("h"), 6).alias("mean_value"),
        F.round(F.min("h"), 6).alias("min_value"),
        F.round(F.max("h"), 6).alias("max_value"),
    )


# ===========================================================================
# wave module round6s (formerly operators/round6s.py)
# Round-5 forty-fifth wave (SURVEY.md §2.Q, continued): leave-one-out
# outlier scoring via window-frame arithmetic and a cube margin
# consistency proof.
# ===========================================================================

@register(
    "win_loo_outlier_zscore",
    oracle="""
WITH m AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(38,2)) AS DOUBLE) AS xd,
         count(*) OVER w AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s1,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))
                  * CAST(l_extendedprice AS DECIMAL(38,2))) OVER w
              AS DOUBLE) AS s2
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag)
),
loo AS (
  SELECT flag, n,
         (xd - (s1 - xd) / (n - 1))
         / sqrt(((n - 1) * (s2 - xd * xd) - (s1 - xd) * (s1 - xd))
                / (CAST(n - 1 AS DOUBLE) * (n - 2))) AS z
  FROM m WHERE n > 2
)
SELECT flag AS l_returnflag,
       CAST(max(n) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_loo_outliers,
       round(max(abs(z)), 6) AS max_abs_z
FROM loo GROUP BY flag
""",
)
def win_loo_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out outlier scoring: each line's z-score against the
    mean and stddev of its group WITHOUT ITSELF — the estimator that
    fixes plain z-scores' self-masking (a huge outlier inflates the σ
    it is judged by; quality_outlier_iqr sidesteps via quantiles, this
    stays in moment space). No per-row re-aggregation: the LOO moments
    are pure frame arithmetic on the group totals — mean₋ᵢ = (S−x)/
    (n−1), var₋ᵢ from (n−1)(S₂−x²)−(S−x)² — so ONE partition window
    pass prices every row's held-out estimate. All sums are DECIMAL
    (the moment-sum portability rule) and floats appear only in the
    final ratio; output rolls up to 3 rows at any scale."""
    li = Tables(spark, sf_dir).lineitem
    xdec = F.col("l_extendedprice").cast("decimal(38,2)")
    w = Window.partitionBy("l_returnflag")
    # Exact DECIMAL window sums, converted ONCE to double: both engines
    # then run identical IEEE arithmetic (the burstiness rule applied to
    # per-row frame math; DECIMAL(38,2) operands per the 5.4 HHI rule).
    m = li.select(
        "l_returnflag",
        xdec.cast("double").alias("xd"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(xdec).over(w).cast("double").alias("s1"),
        F.sum(xdec * xdec).over(w).cast("double").alias("s2"),
    ).where(F.col("n") > 2)
    mean_loo = (F.col("s1") - F.col("xd")) / (F.col("n") - 1)
    var_num = (F.col("n") - 1) * (
        F.col("s2") - F.col("xd") * F.col("xd")
    ) - (F.col("s1") - F.col("xd")) * (F.col("s1") - F.col("xd"))
    sd_loo = F.sqrt(
        var_num / ((F.col("n") - 1).cast("double") * (F.col("n") - 2))
    )
    loo = m.select(
        "l_returnflag",
        "n",
        ((F.col("xd") - mean_loo) / sd_loo).alias("z"),
    )
    # keep the SAME l_returnflag attribute end-to-end: renaming the key
    # anywhere between the window and the rollup breaks exchange reuse
    # (measured: an aliased grouping key forced a second shuffle)
    return loo.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.abs("z") > 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_loo_outliers"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
    )


@register(
    "agg_cube_margin_consistency",
    oracle="""
WITH cells AS (
  SELECT CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END * 2
         + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS gid,
         rev
  FROM (
    SELECT o_orderstatus, o_orderpriority,
           sum(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
  )
)
SELECT gid AS grouping_level,
       count(*) AS n_cells,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
FROM cells GROUP BY gid
""",
)
def agg_cube_margin_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE margin-consistency proof: every grouping level of the
    (status, priority) cube — detail cells, the two 1-D margins, and
    the grand total — must re-aggregate to the SAME DECIMAL revenue
    (a cube is four disjoint partitions of one fact set; a mismatch
    would mean the multi-level aggregate double- or under-counted).
    The proof the agg_cube contract row doesn't state: its cells are
    internally reconcilable, which is what makes cube output safe to
    cache and slice downstream. One CUBE pass, grouping level derived
    from the NULL pattern identically on both engines, 4 rows out."""
    o = Tables(spark, sf_dir).orders
    cube = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("rev")
    )
    gid = (
        F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0) * 2
        + F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
    )
    return (
        cube.select(gid.alias("grouping_level"), "rev")
        .groupBy("grouping_level")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("rev"), 2).cast("double").alias("total_revenue"),
        )
    )


# ===========================================================================
# wave module round6t (formerly operators/round6t.py)
# Round-5 forty-sixth wave (SURVEY.md §2.Q, continued): a temporal
# coverage inventory.
# ===========================================================================


@register(
    "catalog_temporal_coverage",
    oracle="""
SELECT 'orders' AS table_name, count(*) AS n_rows,
       CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS min_ts,
       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS max_ts,
       datediff('day', CAST(min(o_orderdate) AS DATE),
                CAST(max(o_orderdate) AS DATE)) AS span_days
FROM orders
UNION ALL
SELECT 'lineitem', count(*),
       CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR),
       CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR),
       datediff('day', CAST(min(l_shipdate) AS DATE),
                CAST(max(l_shipdate) AS DATE))
FROM lineitem
UNION ALL
SELECT 'events', count(*),
       CAST(CAST(min(ts) AS DATE) AS VARCHAR),
       CAST(CAST(max(ts) AS DATE) AS VARCHAR),
       datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
FROM events
""",
)
def catalog_temporal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal coverage inventory across every time-bearing table:
    row count, first/last timestamp, and span — the freshness/coverage
    sheet an ingestion catalog serves next to catalog_table_stats'
    size metrics (a table whose max_ts stopped advancing is the
    first symptom of a dead feed). Min/max aggregates only — each
    table contributes one partial-aggregable scan and one row.
    Timestamps are emitted as canonical strings (the §5.4 date-dtype
    rule). Events dates truncate ns→day identically on both engines."""
    t = Tables(spark, sf_dir)

    def one(name: str, df: DataFrame, col: str) -> DataFrame:
        c = F.col(col).cast("date")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(c).cast("string").alias("min_ts"),
            F.max(c).cast("string").alias("max_ts"),
            F.datediff(F.max(c), F.min(c)).alias("span_days"),
        ).select(
            F.lit(name).alias("table_name"),
            "n_rows",
            "min_ts",
            "max_ts",
            "span_days",
        )

    return (
        one("orders", t.orders, "o_orderdate")
        .unionByName(one("lineitem", t.lineitem, "l_shipdate"))
        .unionByName(one("events", t.events, "ts"))
    )


# ===========================================================================
# wave module round6w (formerly operators/round6w.py)
# Round-6 forty-ninth wave (SURVEY.md §2.R): Spark 4 engine-surface
# operators — VARIANT semi-structured access, recursive CTEs, bitmap
# exact-distinct aggregation, LATERAL correlated subqueries, collation-aware
# grouping, and AES column-encryption round-trips.
#
# These exercise engine capabilities a migrating user gains with Spark 4.x
# (all public API: parse_json/variant_get SPARK-45891, WITH RECURSIVE
# SPARK-24497, bitmap_* aggregates SPARK-44189, LATERAL subquery
# SPARK-34382, collations SPARK-46830, aes_encrypt/aes_decrypt SPARK-12567).
# Each has a DuckDB oracle spelling the same semantics in portable SQL.
# ===========================================================================

@register(
    "fn_variant_json_path",
    oracle="""
WITH admissible AS (
  -- variant-admissible domain (json tier): Spark's VARIANT parser NULLs
  -- malformed JSON (try_parse_json) AND rejects duplicate object keys,
  -- while this engine's json_extract raises on the former and keeps the
  -- FIRST duplicate on the latter — gate both classes so the k sums run
  -- over exactly the rows that shred to a variant
  SELECT event_type,
         CASE WHEN coalesce(json_valid(props), false)
                   AND len(json_keys(props))
                       = len(list_distinct(json_keys(props)))
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(CAST(json_extract(
             '{"a":[' || k || ',' || k * 2 || ']}',
             '$.a[1]') AS BIGINT)) AS BIGINT) AS sum_nested
FROM admissible GROUP BY event_type
""",
)
def fn_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the VARIANT type (Spark 4.x):
    ``parse_json`` shreds the raw ``events.props`` JSON once into Spark's
    binary variant encoding, ``variant_get`` navigates JSON paths —
    including array indexing on a nested document built inline — without
    ever re-parsing text per field. At 100 TB this is the difference
    between O(fields) JSON re-parses per row (``get_json_object``) and one
    parse + O(1) binary offset lookups; everything stays JVM-side inside
    whole-stage codegen and the aggregate is a plain partial-aggregable
    groupBy on event_type (5-row output at any scale). Oracle: DuckDB
    json_extract over the identical paths, gated to the
    variant-admissible domain (json tier): try_parse_json NULLs malformed
    documents AND duplicate-key objects (VARIANT rejects dup keys), which
    the oracle mirrors with json_valid + a json_keys dup check — the sums
    run over exactly the shreddable rows; n counts every row."""
    t = Tables(spark, sf_dir)
    # One physical shred: props crosses parse_json exactly once (the alias
    # below survives CollapseProject — parse_json is not a cheap expression),
    # and every path lookup reads the binary variant. Pinned by
    # tests/test_plans.py::test_variant_shreds_props_once.
    shredded = t.events.select(
        "event_type", F.try_parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    nested = F.expr(
        "variant_get(parse_json(concat('{\"a\":[', "
        "CAST(variant_get(v, '$.k', 'bigint') AS STRING), ',', "
        "CAST(variant_get(v, '$.k', 'bigint') * 2 AS STRING), "
        "']}')), '$.a[1]', 'bigint')"
    )
    return shredded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.sum(nested).alias("sum_nested"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE bom(root, node) AS (
  SELECT p_partkey, p_partkey FROM part WHERE p_partkey BETWEEN 1 AND 3
  UNION ALL
  SELECT b.root, p.p_partkey
  FROM bom b
  CROSS JOIN (VALUES (0), (1)) AS o(off)
  JOIN part p ON p.p_partkey = b.node * 2 + o.off
  WHERE b.node >= 1
)
SELECT root, count(*) AS n_nodes,
       CAST(round(sum(CAST(p.p_retailprice AS DECIMAL(38,2))), 2) AS DOUBLE)
         AS subtree_cost
FROM bom JOIN part p ON p.p_partkey = bom.node
GROUP BY root
"""


sql_op(
    "sql_recursive_cte_rollup",
    # Spark's VALUES-in-FROM spelling drops the parens DuckDB requires.
    spark_sql=_RECURSIVE_SQL.replace("(VALUES (0), (1))", "VALUES (0), (1)"),
    oracle=_RECURSIVE_SQL,
    doc="""Recursive CTE (WITH RECURSIVE, Spark 4.0 SPARK-24497): a
    bill-of-materials-style hierarchy rollup. The part hierarchy is the
    implicit binary tree ``k -> {2k, 2k+1}`` (synthesized: the corpus has
    no parent column; the operator under test is recursive traversal, and
    the tree is deterministic from the keys alone). Three roots seed the
    anchor; each recursion step is a pure EQUI-join (the child offset is
    expanded via a 2-row VALUES cross join first, so Catalyst plans a hash
    join per iteration, never a nested-loop on an OR predicate — the shape
    that survives a 1000-executor fan-out). Depth is log2(max key): 11
    iterations at sf0.01, 15 at ~20k parts, always far under the engine's
    100-level guard. The ``node >= 1`` guard pins the k=0 self-loop
    (0*2=0) that would otherwise never exhaust — the classic cyclic-input
    recursion trap, caught by prototype. Oracle: DuckDB runs the identical
    statement.""",
)


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY 1
""",
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count at scale via bitmap aggregation (Spark 3.5+
    bitmap_* functions, SPARK-44189): customers per order-month. Keys are
    bucketed into 32768-bit ranges (``bitmap_bucket_number``), each
    (month, bucket) group ORs its bit positions into a <=4 KB binary bitmap
    map-side, and the final per-month count SUMS the per-bucket
    ``bitmap_count``s. Both aggregation levels are
    partial-aggregable, so the shuffle carries fixed-size bitmaps instead
    of raw keys — the exact-distinct answer with HLL-like movement cost
    (vs count(DISTINCT) whose expand-shuffle moves every key occurrence).
    Keys are shifted +1 before bucketing: Spark's bit positions are
    1-based (``bitmap_bit_position(x) = (x-1) % 32768``), so a 0 key
    collides with another key's slot — measured as an off-by-one distinct
    count (189 vs 190) before the shift; +1 is bijective so counts are
    unaffected. The per-month total is the SUM of per-bucket
    ``bitmap_count``s, never ``bitmap_or_agg`` across buckets: bit
    position only identifies a key WITHIN its 32768-wide bucket, so
    OR-merging different buckets' bitmaps collapses distinct keys that
    share a position — invisible while max(key) < 32768 (one bucket,
    every SF <= 0.1) and measured as a 14343-vs-17910 undercount the
    moment the sfx1.0 corpus's offset keys spanned buckets.
    Oracle: DuckDB's plain count(DISTINCT)."""
    t = Tables(spark, sf_dir)
    per_bucket = (
        t.orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.expr("bitmap_bucket_number(o_custkey + 1)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey + 1)").alias("pos"),
        )
        .groupBy("month", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("month").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_cust")
    )


_LATERAL_SQL = """
SELECT n.n_name, l.c_name,
       CAST(round(CAST(l.c_acctbal AS DECIMAL(38,2)), 2) AS DOUBLE) AS bal
FROM nation n, LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) l
"""


sql_op(
    "join_lateral_topk",
    spark_sql=_LATERAL_SQL,
    oracle=_LATERAL_SQL,
    doc="""LATERAL correlated subquery (Spark 4 SPARK-34382): top-2 customers
    by balance per nation, written as the for-each-row subquery a SQL user
    migrating from Postgres/DuckDB would write. Catalyst de-correlates the
    LATERAL into a join + per-key limit rather than executing the inner
    query once per outer row — same physical shape as the window-function
    top-k (win_topk_group) but proving the correlated-subquery surface.
    ORDER BY carries the c_name tie-break so the top-2 set is
    deterministic cross-engine. Oracle: DuckDB runs the identical
    statement.""",
)


@register(
    "fn_collation_lcase_group",
    oracle="""
SELECT lower(seg) AS seg_lc, count(*) AS n,
       count(DISTINCT seg) AS n_case_variants
FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
             ELSE lower(c_mktsegment) END AS seg
      FROM customer) t
GROUP BY 1
""",
)
def fn_collation_lcase_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations, SPARK-46830): group
    mixed-case segment labels under UTF8_LCASE so 'AUTOMOBILE' and
    'automobile' are ONE group — the collation is a property of the
    comparison, not a lower() rewrite of the data (binary-preserving:
    n_case_variants proves both spellings reached the group). Mixed case
    is synthesized deterministically from key parity because the corpus
    stores segments uniformly upper. Collation comparisons stay JVM-side
    (no UDF); grouping on a collated key shuffles exactly like any other
    key. Oracle: DuckDB spells the same semantics with lower()
    normalization."""
    t = Tables(spark, sf_dir)
    seg = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    return (
        t.customer.select(seg.alias("seg"))
        .groupBy(F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.expr("seg COLLATE UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("seg_ci").cast("string")).alias("seg_lc"),
            "n",
            "n_case_variants",
        )
    )


@register(
    "fn_aes_encrypt_roundtrip",
    oracle="""
SELECT count(*) AS n, count(c_name) AS n_ok,
       count(DISTINCT c_name) AS n_distinct_ct
FROM customer
""",
)
def fn_aes_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip (aes_encrypt/aes_decrypt,
    SPARK-12567): PII-bearing names encrypted with AES-128-GCM and a
    pinned IV, then decrypted and compared. Proves (a) every row
    round-trips losslessly (n_ok == n) and (b) deterministic-IV ciphertext
    is injective on plaintext (distinct ciphertexts == distinct names), so
    encrypted columns can still serve as exact-match join/dedup keys — the
    property an ingestion pipeline relies on when it encrypts PII at the
    edge but still needs entity resolution downstream. (In production the
    IV comes from a per-batch secret, not a constant; the pinned IV here
    makes the parity check deterministic.) All JVM-side codegen
    expressions, one scan, 1-row output. Oracle: the decrypt side cannot
    be spelled portably, so DuckDB pins the invariants' expected values —
    every NON-NULL name round-trips (count(c_name); encrypt of NULL is
    NULL) and ciphertexts have name-cardinality."""
    t = Tables(spark, sf_dir)
    enc = t.customer.select(
        "c_name",
        F.expr(
            "aes_encrypt(c_name, '0123456789abcdef', 'GCM', 'NONE', "
            "unhex('000000000000000000000000'))"
        ).alias("ct"),
    )
    return enc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.expr(
                    "CAST(aes_decrypt(ct, '0123456789abcdef', 'GCM') AS STRING)"
                )
                == F.col("c_name"),
                1,
            ).otherwise(0)
        ).alias("n_ok"),
        F.count_distinct("ct").alias("n_distinct_ct"),
    )


# ===========================================================================
# wave module round6x (formerly operators/round6x.py)
# Round-6 fiftieth wave (SURVEY.md §2.R): co-purchase degree
# distributions and the parse_url / xpath scalar families.
# ===========================================================================


@register(
    "graph_degree_distribution",
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
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
    corpus size.

    Optimization r16 (guide §2.4): pairs come from
    scale.basket_pair_explode — one partial-aggregable
    groupBy(l_orderkey) collect_set plus a JVM-side combination
    generator — instead of the first draft's distinct + self-equi-join
    (which paid a distinct exchange plus two join exchanges for the
    identical pair multiset)."""
    from ai_dataingestion_spark.scale import basket_pair_explode

    edges = basket_pair_explode(
        Tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", out=("pa", "pb"),
    ).distinct()
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


@register(
    "fn_url_parse",
    oracle="""
SELECT regexp_extract(u, 'https://([^/]+)/', 1) AS host,
       regexp_extract(u, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(u, 'k=(.*)$', 1) AS qk,
       count(*) AS n
FROM (SELECT 'https://ex' || CAST(o_orderkey % 3 AS VARCHAR) || '.org/p/'
             || CAST(o_orderkey % 7 AS VARCHAR) || '?k=' || o_orderstatus AS u
      FROM orders) t
GROUP BY 1, 2, 3
""",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via Spark's parse_url (HOST / PATH / QUERY-key
    extraction) over synthesized click-log URLs (the corpus carries no
    URL column; the operator under test is the parser). parse_url is a
    JVM-side expression — no UDF — and the grouped output is bounded by
    the synthesized key domain (3 hosts x 7 paths x 3 statuses). Oracle:
    DuckDB spells the same decomposition with regexp_extract."""
    t = Tables(spark, sf_dir)
    u = F.concat(
        F.lit("https://ex"),
        (F.col("o_orderkey") % 3).cast("string"),
        F.lit(".org/p/"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("?k="),
        F.col("o_orderstatus"),
    )
    return (
        t.orders.select(u.alias("u"))
        .select(
            F.parse_url("u", F.lit("HOST")).alias("host"),
            F.parse_url("u", F.lit("PATH")).alias("path"),
            F.parse_url("u", F.lit("QUERY"), F.lit("k")).alias("qk"),
        )
        .groupBy("host", "path", "qk")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fn_xpath_extract",
    oracle="""
SELECT o_orderstatus AS status_from_xml,
       -- a NULL status makes the whole synthesized XML doc NULL on the
       -- engine side, so nothing is extractable from those rows: the
       -- reproduced arithmetic must go NULL with it
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN NULL
                     ELSE o_orderkey % 5 + 2 END) AS BIGINT) AS sum_b,
       count(*) AS n
FROM orders GROUP BY 1
""",
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML field extraction via Spark's xpath family (xpath_string for a
    scalar node, xpath_long for an XPath aggregate over repeated nodes)
    on per-row XML documents synthesized from order columns — the
    legacy-feed ingestion shape (the corpus has no XML column; the
    operators under test are the XPath evaluators). Extraction stays
    JVM-side; the rollup is a plain partial-aggregable groupBy. Oracle:
    DuckDB reproduces the extracted values arithmetically from the same
    source columns (status text node; sum(/r/b) = (key%5) + literal 2)."""
    t = Tables(spark, sf_dir)
    xml = F.concat(
        F.lit("<r><a>"),
        F.col("o_orderstatus"),
        F.lit("</a><b>"),
        (F.col("o_orderkey") % 5).cast("string"),
        F.lit("</b><b>2</b></r>"),
    )
    return (
        t.orders.select(xml.alias("x"))
        .select(
            F.expr("xpath_string(x, '/r/a')").alias("status_from_xml"),
            F.expr("xpath_long(x, 'sum(/r/b)')").alias("b_sum"),
        )
        .groupBy("status_from_xml")
        .agg(F.sum("b_sum").alias("sum_b"), F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# wave module round6y (formerly operators/round6y.py)
# Round-6 fifty-first wave (SURVEY.md §2.R): spatial primitives —
# grid-blocked spatial joins — and the approx-percentile sketch accuracy
# contract.
# ===========================================================================


_SPATIAL_ORACLE = """
WITH pts AS (SELECT c_custkey,
                    CAST((c_custkey * 7) % 100 AS BIGINT) AS x,
                    CAST((c_custkey * 13) % 100 AS BIGINT) AS y
             FROM customer),
boxes AS (SELECT n_nationkey, n_name,
                 CAST((n_nationkey * 11) % 80 AS BIGINT) AS xmin,
                 CAST((n_nationkey * 11) % 80 + 15 AS BIGINT) AS xmax,
                 CAST((n_nationkey * 17) % 80 AS BIGINT) AS ymin,
                 CAST((n_nationkey * 17) % 80 + 20 AS BIGINT) AS ymax
          FROM nation)
SELECT b.n_name, count(p.c_custkey) AS n_points
FROM boxes b LEFT JOIN pts p
  ON p.x BETWEEN b.xmin AND b.xmax AND p.y BETWEEN b.ymin AND b.ymax
GROUP BY 1
"""

_CELL = 10  # grid cell edge; boxes span <=2x3 cells -> fan-out <=12


@register("join_spatial_grid", oracle=_SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial point-in-rectangle join via GRID BLOCKING — the pattern
    that makes spatial joins scale on a hash-shuffle engine (same
    candidate-generation-by-equality-join shape as the LSH dedups).
    Points and query boxes are synthesized deterministically from keys
    (the corpus has no geometry; the operator under test is the join
    strategy). Each point maps to one 10x10 grid cell; each box explodes
    into the <=12 cells it overlaps; the join is pure cell-key EQUALITY
    (shuffle/broadcast hash join — never the O(points x boxes)
    theta-join a naive BETWEEN predicate forces), followed by the exact
    containment verify on candidates only. LEFT join semantics keep
    empty boxes with count 0. At 100 TB the cell key shards uniformly
    and box fan-out stays constant. Oracle: DuckDB runs the naive
    theta-join spelling of the same semantics."""
    spark_pts = Tables(spark, sf_dir).customer.select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 100).cast("bigint").alias("x"),
        ((F.col("c_custkey") * 13) % 100).cast("bigint").alias("y"),
    )
    boxes = Tables(spark, sf_dir).nation.select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 11) % 80).cast("bigint").alias("xmin"),
        ((F.col("n_nationkey") * 11) % 80 + 15).cast("bigint").alias("xmax"),
        ((F.col("n_nationkey") * 17) % 80).cast("bigint").alias("ymin"),
        ((F.col("n_nationkey") * 17) % 80 + 20).cast("bigint").alias("ymax"),
    )
    pcell = spark_pts.withColumn(
        "cx", (F.col("x") / _CELL).cast("bigint")
    ).withColumn("cy", (F.col("y") / _CELL).cast("bigint"))
    bcell = boxes.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("xmin") / _CELL).cast("bigint"),
                (F.col("xmax") / _CELL).cast("bigint"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                (F.col("ymin") / _CELL).cast("bigint"),
                (F.col("ymax") / _CELL).cast("bigint"),
            )
        ).alias("cy"),
    )
    hits = (
        bcell.join(pcell, ["cx", "cy"])
        .filter(
            (F.col("x") >= F.col("xmin"))
            & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin"))
            & (F.col("y") <= F.col("ymax"))
        )
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    # final groupBy(n_name): the oracle groups by NAME, so boxes sharing a
    # name — including several NULL-named nations, which GROUP BY collapses
    # into one NULL group on both engines — merge their point counts
    return (
        boxes.select("n_nationkey", "n_name")
        .join(hits, "n_nationkey", "left")
        .groupBy("n_name")
        .agg(F.sum(F.coalesce("n_points", F.lit(0))).alias("n_points"))
    )


@register(
    "agg_approx_percentile_error",
    oracle="""
SELECT * FROM (VALUES (100, true), (1000, true), (10000, true))
  t(accuracy, within_bound)
""",
)
def agg_approx_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile sketch's accuracy CONTRACT, verified:
    Spark's percentile_approx (Greenwald-Khanna) promises the returned
    median's rank is within n/accuracy of the true rank. The operator
    computes the approx median at accuracy 100 / 1000 / 10000 plus the
    exact RANK INTERVAL of each returned value (one extra
    conditional-count pass with the 1-row sketch results broadcast), and
    emits whether each landed inside its bound — measured slack at
    sf0.001: rank error 1-32 vs bounds 2-61. Under duplicates a value
    occupies ranks [count(<v)+1, count(<=v)]; GK guarantees SOME rank of
    the value is within n/accuracy of the target, so the check is
    interval-intersection with the band 0.5n ± (n/accuracy + 1), not the
    upper rank alone — count(<=v) can exceed the band on heavily tied
    columns even when the sketch honors its contract (ADVICE r6). This
    is the check a pipeline runs before trusting sketch quantiles for
    SLA cut-offs at 100 TB, where exact percentiles cost a full sort.
    Oracle: the contract itself (all three accuracies within bound)."""
    li = Tables(spark, sf_dir).lineitem
    sk = li.agg(
        # count(col), not count(*): the sketch ignores NULL prices, so the
        # rank band must be centered on the NON-NULL population
        F.count("l_extendedprice").alias("n"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 100)").alias("a100"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("a1000"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 10000)").alias(
            "a10000"
        ),
    )
    def _lt(a):
        return F.sum(
            F.when(F.col("l_extendedprice") < F.col(a), 1).otherwise(0)
        ).alias("lt" + a[1:])

    def _le(a):
        return F.sum(
            F.when(F.col("l_extendedprice") <= F.col(a), 1).otherwise(0)
        ).alias("le" + a[1:])

    ranks = li.crossJoin(F.broadcast(sk)).agg(
        F.first("n").alias("n"),
        _lt("a100"), _le("a100"),
        _lt("a1000"), _le("a1000"),
        _lt("a10000"), _le("a10000"),
    )
    # value's rank interval [lt+1, le] intersects the band
    # [0.5n - n/acc - 1, 0.5n + n/acc + 1]
    band = (
        "(lt{a} + 1) <= (0.5 * n + n / {a}.0 + 1) "
        "AND le{a} >= (0.5 * n - n / {a}.0 - 1)"
    )
    return ranks.selectExpr(
        "stack(3, "
        f"100,   {band.format(a=100)}, "
        f"1000,  {band.format(a=1000)}, "
        f"10000, {band.format(a=10000)}) "
        "AS (accuracy, within_bound)"
    )


# ===========================================================================
# wave module round6z (formerly operators/round6z.py)
# Round-6 fifty-second wave (SURVEY.md §2.R): ingestion hardening —
# heterogeneous timestamp parsing, UTF-8 char-vs-byte semantics, GROUP BY
# ALL, and INTERVAL-literal window frames.
# ===========================================================================


@register(
    "fn_multiformat_timestamp_parse",
    oracle="""
SELECT fmt_class, count(*) AS n,
       CAST(CAST(min(parsed) AS TIMESTAMP) AS VARCHAR) AS min_ts,
       CAST(CAST(max(parsed) AS TIMESTAMP) AS VARCHAR) AS max_ts FROM (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'iso'
              WHEN event_id % 3 = 1 THEN 'us' ELSE 'epoch' END AS fmt_class,
         coalesce(try_strptime(raw, '%Y-%m-%dT%H:%M:%S'),
                  try_strptime(raw, '%m/%d/%Y %H:%M:%S'),
                  CASE WHEN regexp_matches(raw, '^[0-9]+$')
                       THEN CAST(to_timestamp(CAST(raw AS BIGINT)) AS TIMESTAMP)
                  END) AS parsed
  FROM (SELECT event_id,
      CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
           WHEN event_id % 3 = 1 THEN strftime(ts, '%m/%d/%Y %H:%M:%S')
           -- floor() before the int cast: DuckDB CAST(double AS BIGINT)
           -- ROUNDS while Spark unix_timestamp() truncates (SURVEY 5.4);
           -- caught at sf0.1 where the max epoch row has fraction >= .5
           ELSE CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) END AS raw
    FROM events) r) p
GROUP BY 1
""",
)
def fn_multiformat_timestamp_parse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heterogeneous timestamp ingestion: raw strings arriving in three
    wire formats (ISO-8601, US slash-dates, unix epoch seconds) parsed by
    a try_to_timestamp coalesce cascade — each format attempt nulls out
    instead of failing the job (ANSI-safe), the epoch branch is guarded
    by a digits-only regex so it can't mis-eat date strings, and every
    row must land in exactly one branch. The raw strings are synthesized
    from events.ts at second precision so the round-trip is exact and the
    per-format min/max pin both the parse and the format-classifier. All
    JVM-side; 3-row output. Oracle: DuckDB's try_strptime cascade (its
    epoch parse returns TIMESTAMPTZ — cast back to naive, the second
    dialect trap this wave pins)."""
    t = Tables(spark, sf_dir)
    raw = F.when(
        F.col("event_id") % 3 == 0,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
    ).when(
        F.col("event_id") % 3 == 1, F.date_format("ts", "MM/dd/yyyy HH:mm:ss")
    ).otherwise(F.unix_timestamp("ts").cast("bigint").cast("string"))
    fmt_class = (
        F.when(F.col("event_id") % 3 == 0, F.lit("iso"))
        .when(F.col("event_id") % 3 == 1, F.lit("us"))
        .otherwise(F.lit("epoch"))
    )
    parsed = F.coalesce(
        F.expr("try_to_timestamp(raw, \"yyyy-MM-dd'T'HH:mm:ss\")"),
        F.expr("try_to_timestamp(raw, 'MM/dd/yyyy HH:mm:ss')"),
        F.expr(
            "CASE WHEN raw rlike '^[0-9]+$' "
            "THEN timestamp_seconds(CAST(raw AS BIGINT)) END"
        ),
    )
    return (
        t.events.select(fmt_class.alias("fmt_class"), raw.alias("raw"))
        .select("fmt_class", parsed.alias("parsed"))
        .groupBy("fmt_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("parsed").cast("string").alias("min_ts"),
            F.max("parsed").cast("string").alias("max_ts"),
        )
    )


# 6 two-byte (Greek) + 6 three-byte (CJK) characters: byte lengths vary,
# char lengths don't — exactly the divergence the operator pins.
_MB = "αβγδεζ日本語中文字"


@register(
    "fn_utf8_multibyte_semantics",
    oracle=f"""
SELECT CAST(sum(length(s)) AS BIGINT) AS total_chars,
       CAST(sum(strlen(s)) AS BIGINT) AS total_bytes,
       count(DISTINCT substr(s, 2, 2)) AS distinct_mid
FROM (SELECT 'a' || substr('{_MB}', CAST(1 + c_custkey % 12 AS INTEGER), 1)
          || substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INTEGER), 1)
          || 'z' AS s FROM customer) t
""",
)
def fn_utf8_multibyte_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 char-vs-byte semantics pinned: strings mixing 1/2/3-byte
    characters (synthesized by CHARACTER-indexed substr picks from a
    mixed Greek/CJK alphabet — the corpus is pure ASCII) must report
    length() in characters, octet_length() in bytes, and substr() must
    slice characters, never split a multibyte sequence. This is the
    contract every downstream text operator (chunkers, token counters,
    fingerprints) silently relies on; an engine or storage layer that
    byte-slices would corrupt text and diverge here. Oracle: DuckDB
    (strlen = its byte length function). Measured: 600 chars / 1046
    bytes at sf0.001 — unequal by construction."""
    t = Tables(spark, sf_dir)
    s = F.concat(
        F.lit("a"),
        F.expr(f"substr('{_MB}', CAST(1 + c_custkey % 12 AS INT), 1)"),
        F.expr(f"substr('{_MB}', CAST(1 + (c_custkey * 5) % 12 AS INT), 1)"),
        F.lit("z"),
    )
    return t.customer.select(s.alias("s")).agg(
        F.sum(F.length("s")).cast("bigint").alias("total_chars"),
        F.sum(F.octet_length("s")).cast("bigint").alias("total_bytes"),
        F.count_distinct(F.expr("substr(s, 2, 2)")).alias("distinct_mid"),
    )


_GBA_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS rev
FROM orders GROUP BY ALL
"""


sql_op(
    "sql_group_by_all",
    spark_sql=_GBA_SQL,
    oracle=_GBA_SQL,
    doc="""GROUP BY ALL (Spark 3.4+ / DuckDB shared syntax): the analyst
    shorthand that infers grouping keys from the non-aggregate select
    items. Semantically identical to the explicit GROUP BY — Catalyst
    resolves it at analysis time, so the physical plan is the ordinary
    partial-aggregable hash aggregate. Both engines run the identical
    statement.""",
)


_IVFRAME_SQL = """
SELECT o_custkey, CAST(CAST(o_orderdate AS DATE) AS {STR}) AS od,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
         RANGE BETWEEN {IV} PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS spend_7d
FROM orders
"""


sql_op(
    "win_range_interval_frame",
    spark_sql=_IVFRAME_SQL.replace("{IV}", "INTERVAL '7' DAY").replace(
            "{STR}", "STRING"
        ),
    oracle=_IVFRAME_SQL.replace("{IV}", "INTERVAL 7 DAY").replace(
        "{STR}", "VARCHAR"
    ),
    doc="""Time-based RANGE window frame with an INTERVAL literal: trailing
    7-day spend per customer, `RANGE BETWEEN INTERVAL '7' DAY PRECEDING
    AND CURRENT ROW` over the order timestamp. Unlike a ROWS frame this
    is value-based — gaps and same-day multiples are handled by the time
    axis, not row counts — and unlike the existing numeric rangeBetween
    operators (win_moving_range, round6m/o) it exercises the calendar
    INTERVAL boundary type end-to-end. Per-customer partitions keep the
    window parallel (no global sort); frame evaluation is the standard
    sliding-sum pass. Oracle: DuckDB runs the identical statement
    (INTERVAL 7 DAY spelling).""",
)
