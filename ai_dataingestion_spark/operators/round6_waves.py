"""Round-6 operator waves (SURVEY.md §2.R), consolidated from the former
per-wave modules round6a–round6z (registration order preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import (
    pround,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.scale import broadcast_if_small
import os
from ai_dataingestion_spark.registry import Tables


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
# streaming UPSERT (merge, not append).
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


# ===========================================================================
# wave module round6s (formerly operators/round6s.py)
# Round-5 forty-fifth wave (SURVEY.md §2.Q, continued): leave-one-out
# outlier scoring via window-frame arithmetic.
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
# operators — recursive CTEs and LATERAL correlated subqueries.
#
# These exercise engine capabilities a migrating user gains with Spark 4.x
# (all public API: WITH RECURSIVE SPARK-24497, LATERAL subquery
# SPARK-34382). Each has a DuckDB oracle spelling the same semantics in
# portable SQL.
# ===========================================================================


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


# ===========================================================================
# wave module round6x (formerly operators/round6x.py)
# Round-6 fiftieth wave (SURVEY.md §2.R): co-purchase degree
# distributions.
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


# ===========================================================================
# wave module round6y (formerly operators/round6y.py)
# Round-6 fifty-first wave (SURVEY.md §2.R): spatial primitives —
# grid-blocked spatial joins.
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


# ===========================================================================
# wave module round6z (formerly operators/round6z.py)
# Round-6 fifty-second wave (SURVEY.md §2.R): GROUP BY ALL and
# INTERVAL-literal window frames.
# ===========================================================================


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
