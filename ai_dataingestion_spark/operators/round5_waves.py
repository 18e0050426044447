"""Round-5 operator waves (SURVEY.md §2.Q), consolidated from the former
per-wave modules round5b–round5z (registration order preserved: sections
appear exactly in the old alphabetical import order, so catalog rotation
indices are unchanged). Each section keeps its original wave docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    percentile,
    percentile_sql,
    pround,
    stable_rounded_sum,
    stable_rounded_sum_sql,
    tokens,
    tokens_sql,
)
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.scale import broadcast_if_small
from ai_dataingestion_spark.tmpdirs import op_tmpdir
from ai_dataingestion_spark.registry import Tables


# ===========================================================================
# wave module round5c (formerly operators/round5c.py)
# Round-5 third wave (SURVEY.md §2.Q, continued): dynamic partition
# pruning through a join.
# ===========================================================================

# ---------------------------------------------------------------------------
# §2.Q.7 partition-pruning scan paths
# ---------------------------------------------------------------------------


@register(
    "join_dpp_partitioned",
    oracle=f"""
-- NB: explicit OR equalities, not IN: DuckDB 1.0.0 rewrites
-- `CAST(ts AS DATE) IN (<date literals>)` under WHERE into a timestamp
-- IN that only matches midnight (verified: 0 rows vs 339/day equality).
SELECT event_type, count(*) AS n_events,
       {stable_rounded_sum_sql("value", 2)} AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
   OR CAST(ts AS DATE) = DATE '2024-01-03'
   OR CAST(ts AS DATE) = DATE '2024-01-05'
GROUP BY event_type
""",
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events written partitionBy(day), then
    joined to a tiny filtered dim of flagged days. Catalyst injects the
    dim's day set as a runtime partition filter into the fact scan
    (dynamicpruning#N in the plan, pinned by tests/test_plans.py), so
    only the 3 matching day directories are read — the canonical
    star-join scan path at 100 TB, where the pruning predicate isn't
    known until the dim side is evaluated. Oracle: the equivalent
    static IN filter."""
    out = op_tmpdir("join_dpp_")
    ev = Tables(spark, sf_dir).events.withColumn(
        "day", F.col("ts").cast("date")
    )
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(out)
    # explicit schema: an empty corpus writes zero data files and schema
    # inference over the bare directory fails (the sink_parquet_part rule);
    # the day partition column still resolves from directory names when
    # files exist
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = spark.createDataFrame(
        [("2024-01-02", 1), ("2024-01-03", 1), ("2024-01-05", 1)],
        "d string, flagged int",
    ).select(F.col("d").cast("date").alias("d"), "flagged")
    return (
        fact.join(F.broadcast(dim.filter(F.col("flagged") == 1)),
                  fact.day == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_rounded_sum("value", 2).alias("total_value"),
        )
    )


# ===========================================================================
# wave module round5e (formerly operators/round5e.py)
# Round-5 fifth wave (SURVEY.md §2.Q, continued): a catalog-level
# table-profiling operator.
# ===========================================================================


@register(
    "catalog_table_stats",
    oracle="""
SELECT 'customer' AS table_name, count(*) AS n_rows,
       count(DISTINCT c_custkey) AS n_distinct_keys FROM customer
UNION ALL
SELECT 'orders', count(*), count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'lineitem', count(*),
       count(DISTINCT l_orderkey * 8 + l_linenumber) FROM lineitem
UNION ALL
SELECT 'part', count(*), count(DISTINCT p_partkey) FROM part
UNION ALL
SELECT 'supplier', count(*), count(DISTINCT s_suppkey) FROM supplier
UNION ALL
SELECT 'events', count(*), count(DISTINCT event_id) FROM events
UNION ALL
SELECT 'documents', count(*), count(DISTINCT doc_id) FROM documents
UNION ALL
SELECT 'embeddings', count(*), count(DISTINCT vec_id) FROM embeddings
""",
)
def catalog_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level profiling: row count + primary-key distinct count
    for every non-dim table — the table of numbers an ingest pipeline
    publishes after each load (key uniqueness == rows ⇔ no duplicate
    ingestion). Eight independent single-table aggregates unioned; each
    is one partial-aggregable pass, so the whole profile costs one scan
    per table and ships eight rows."""
    t = Tables(spark, sf_dir)
    li_key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    parts = [
        ("customer", t.customer, F.col("c_custkey")),
        ("orders", t.orders, F.col("o_orderkey")),
        ("lineitem", t.lineitem, li_key),
        ("part", t.part, F.col("p_partkey")),
        ("supplier", t.supplier, F.col("s_suppkey")),
        ("events", t.events, F.col("event_id")),
        ("documents", t.documents, F.col("doc_id")),
        ("embeddings", t.embeddings, F.col("vec_id")),
    ]
    out = None
    for name, df, key in parts:
        stats = df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(key).alias("n_distinct_keys"),
        ).select("table_name", "n_rows", "n_distinct_keys")
        out = stats if out is None else out.unionByName(stats)
    return out


# ===========================================================================
# wave module round5h (formerly operators/round5h.py)
# Round-5 eighth wave (SURVEY.md §2.Q, continued): discrete-vs-continuous
# percentile parity.
# ===========================================================================

@register(
    "win_percentile_disc_vs_cont",
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
       CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE) AS p50_disc,
       {percentile_sql("l_quantity", 0.5)} AS p50_cont,
       CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS p90_disc,
       {percentile_sql("l_quantity", 0.9)} AS p90_cont
FROM lineitem GROUP BY l_returnflag
""",
)
def win_percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete vs continuous percentiles side by side: percentile_disc
    returns an actual data value (what a 'p90 order actually looked
    like'), the continuous ``percentile`` interpolates —
    the distinction that matters when the value is fed back into a
    filter. Quantity values carry ≤ 2 decimals and midpoints halve
    exactly in binary, so no rounding layer is needed for parity."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p50_disc"),
        percentile("l_quantity", 0.5).alias("p50_cont"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_disc"),
        percentile("l_quantity", 0.9).alias("p90_cont"),
    )


# ===========================================================================
# wave module round5k (formerly operators/round5k.py)
# Round-5 eleventh wave (SURVEY.md §2.Q, continued): numeric RANGE window
# frames.
# ===========================================================================


@register(
    "win_range_numeric_frame",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_within_500_below,
       CAST(count(*) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal
         RANGE BETWEEN 250 PRECEDING AND 250 FOLLOWING) AS BIGINT)
         AS n_within_250_band
FROM customer
""",
)
def win_range_numeric_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE window frames (§2.E completion): peer-density
    queries — for each customer, how many same-segment customers sit
    within a VALUE band of their balance (not a row count, not a time
    interval) — the frame type behind local-density scoring and
    percentile-free outlier screens. RANGE frames are tie-deterministic
    (peer rows share a frame), so no unique tie-break column is needed
    for cross-engine parity, unlike every ROWS frame in §2.E."""
    c = Tables(spark, sf_dir).customer
    w1 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-500, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rangeBetween(-250, 250)
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w1).cast("bigint").alias("n_within_500_below"),
        F.count(F.lit(1)).over(w2).cast("bigint").alias("n_within_250_band"),
    )


# ===========================================================================
# wave module round5o (formerly operators/round5o.py)
# Round-5 fifteenth wave (SURVEY.md §2.Q, continued): running-distinct-count
# windows.
# ===========================================================================


@register(
    "win_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_distinct_types_so_far
FROM flagged
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an ordered window — a frame Spark
    (and ANSI SQL) cannot express directly — via the first-occurrence
    decomposition: flag each (user, type)'s first event with a
    row_number, then running-sum the flags along the user's timeline.
    Feature-adoption breadth over time, in two windows whose second
    reuses the first's user_id hash partitioning (one extra sort, no
    extra shuffle). The pattern generalizes to any running-distinct
    metric at any scale; collect_set-based spellings ship growing
    arrays through the window and do not."""
    e = Tables(spark, sf_dir).events
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias(
            "n_distinct_types_so_far"
        ),
    )


# ===========================================================================
# wave module round5p (formerly operators/round5p.py)
# Round-5 sixteenth wave (SURVEY.md §2.Q, continued): stable
# k-per-group sampling.
# ===========================================================================


@register(
    "sample_k_per_group_stable",
    oracle="""
SELECT c_mktsegment, c_custkey, sample_rank FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
         ) AS sample_rank
  FROM customer)
WHERE sample_rank <= 10
""",
)
def sample_k_per_group_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: exactly 10 customers per
    segment, chosen by ranking on the md5 of the key — uniform-ish,
    seedless, and STABLE under repartitioning, re-runs, and engine
    choice (rand()-based sampling is none of those; this is the
    debugging/eyeballing sample you can cite in a bug report and
    reproduce tomorrow). The per-group rank plans as WindowGroupLimit:
    each partition locally top-k's before the shuffle, so the full
    group never moves — the split_train_eval hash idiom applied to
    fixed-size sampling."""
    c = Tables(spark, sf_dir).customer
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 10)
    )


# ===========================================================================
# wave module round5q (formerly operators/round5q.py)
# Round-5 seventeenth wave (SURVEY.md §2.Q, continued): co-purchase
# graph triangle census and a top-k-per-group strategy-equivalence proof.
# ===========================================================================

@register(
    "graph_copurchase_triangles",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
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
    # Optimization r16 (guide §2.4): per-order part pairs come from
    # scale.basket_pair_explode — one partial-aggregable basket groupBy +
    # JVM-side combination generator — instead of the first draft's
    # distinct + corpus×corpus self-equi-join (a distinct exchange plus
    # two join exchanges for the identical pair multiset).
    from ai_dataingestion_spark.scale import basket_pair_explode

    edges = (
        basket_pair_explode(
            t.lineitem.select("l_orderkey", "l_partkey"),
            "l_orderkey", "l_partkey", out=("u", "v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
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


@register(
    "topk_per_group_strategies",
    oracle="""
WITH rev AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(38, 2))) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
),
ranked AS (
  SELECT p_brand, l_partkey, r,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY r DESC, l_partkey) AS rn
  FROM rev
)
SELECT p_brand, l_partkey,
       CAST(r AS DOUBLE) AS revenue, rn,
       0 AS strategies_disagree
FROM ranked WHERE rn <= 3
""",
)
def topk_per_group_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand computed by TWO physical strategies and
    proven equivalent in-plan: (A) the window row_number over the
    aggregated (brand, part) revenue — plans WindowGroupLimit, the
    general answer — and (B) the aggregation spelling
    slice(array_sort(collect_list(struct(-r, partkey))), 1, 3), which
    is PARTIAL-AGGREGABLE: each map task keeps only its local struct
    list, so for small k over huge groups it ships k·tasks rows where
    the window ships the whole group into a sort. The emitted column
    strategies_disagree is the size of the symmetric difference
    between A and B — the oracle pins it to 0, so the equivalence is
    hash-checked every round, not just claimed. DECIMAL revenue makes
    the ranking tie-exact; partkey breaks residual ties."""
    t = Tables(spark, sf_dir)
    rev = (
        t.lineitem.join(
            broadcast_if_small(t.part.select("p_partkey", "p_brand"), sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
        )
        .transform(op_cache)  # feeds both strategies
    )
    # strategy A: window
    w = Window.partitionBy("p_brand").orderBy(F.desc("r"), F.asc("l_partkey"))
    a = (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "l_partkey", "r", "rn")
    )
    # strategy B: partial-aggregable sorted-struct slice
    b = (
        rev.groupBy("p_brand")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("r")).alias("nr"), "l_partkey"))
                ),
                1,
                3,
            ).alias("top")
        )
        .select("p_brand", F.posexplode("top").alias("pos0", "s"))
        .select(
            "p_brand",
            F.col("s.l_partkey").alias("l_partkey"),
            (-F.col("s.nr")).alias("r"),
            (F.col("pos0") + 1).alias("rn"),
        )
    )
    disagree = a.select("p_brand", "l_partkey", "rn").exceptAll(
        b.select("p_brand", "l_partkey", "rn")
    ).unionAll(
        b.select("p_brand", "l_partkey", "rn").exceptAll(
            a.select("p_brand", "l_partkey", "rn")
        )
    ).agg(F.count(F.lit(1)).alias("n_diff"))
    return a.crossJoin(F.broadcast(disagree)).select(
        "p_brand",
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        "rn",
        F.col("n_diff").cast("int").alias("strategies_disagree"),
    )


# ===========================================================================
# wave module round5t (formerly operators/round5t.py)
# Round-5 twentieth wave (SURVEY.md §2.Q, continued): the
# default-window-frame ties pin.
# ===========================================================================


@register(
    "win_default_frame_ties",
    oracle="""
SELECT c_mktsegment, c_custkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT)), 2)
            AS DOUBLE) AS running_default_frame,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38, 2))) OVER (
              PARTITION BY c_mktsegment
              ORDER BY CAST(floor(c_acctbal / 1000) AS BIGINT), c_custkey
              ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
         AS running_rows_tiebroken,
       CAST(count(*) OVER (
              PARTITION BY c_mktsegment,
                           CAST(floor(c_acctbal / 1000) AS BIGINT))
            AS BIGINT) AS n_peers
FROM customer
""",
)
def win_default_frame_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-window-frame ties pin (§2.E semantics completion):
    with ORDER BY on a non-unique band, the ANSI default frame is
    RANGE UNBOUNDED PRECEDING..CURRENT ROW — all PEERS of the current
    row are included at once, so the running sum jumps by whole tied
    groups — while the ROWS spelling with a unique tiebreak advances
    row by row. Both are emitted side by side (they differ exactly
    where n_peers > 1), pinning the classic silent running-total bug
    in both engines. DECIMAL sums keep every value exact; ties are
    engineered via the coarse floor(bal/1000) band."""
    c = Tables(spark, sf_dir).customer
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    dec = F.col("c_acctbal").cast("decimal(38,2)")
    # asc_nulls_last: NULL band (NULL acctbal) must sit at the partition
    # END as in the oracle engine, so its RANGE frame spans the whole
    # partition rather than opening it with a NULL-sum prefix
    w_default = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("band")
    )
    w_rows = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.asc_nulls_last("band"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_peers = Window.partitionBy("c_mktsegment", "band")
    return c.withColumn("band", band).select(
        "c_mktsegment",
        "c_custkey",
        "band",
        F.round(F.sum(dec).over(w_default), 2)
        .cast("double")
        .alias("running_default_frame"),
        F.round(F.sum(dec).over(w_rows), 2)
        .cast("double")
        .alias("running_rows_tiebroken"),
        F.count(F.lit(1)).over(w_peers).cast("bigint").alias("n_peers"),
    )


# ===========================================================================
# wave module round5u (formerly operators/round5u.py)
# Round-5 twenty-first wave (SURVEY.md §2.Q, continued): inverted-index
# boolean search.
# ===========================================================================


@register(
    "search_inverted_index_and_query",
    oracle=f"""
WITH idx AS (
  SELECT DISTINCT doc_id, unnest({tokens_sql()}) AS term
  FROM documents
)
SELECT 'hash AND join' AS query, count(*) AS n_matches,
       min(a.doc_id) AS first_doc, max(a.doc_id) AS last_doc
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'hash' AND b.term = 'join'
UNION ALL
SELECT 'filter AND merge', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a JOIN idx b ON a.doc_id = b.doc_id
WHERE a.term = 'filter' AND b.term = 'merge'
UNION ALL
SELECT 'scan AND NOT batch', count(*), min(a.doc_id), max(a.doc_id)
FROM idx a
WHERE a.term = 'scan'
  AND NOT EXISTS (SELECT 1 FROM idx b
                  WHERE b.doc_id = a.doc_id AND b.term = 'batch')
""",
)
def search_inverted_index_and_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index boolean retrieval: the postings relation
    (term → doc) built once, then three query shapes answered from it —
    conjunction (postings self-join on doc), and negation (anti join) —
    the boolean-search core of every lexical engine, and the same
    candidate-generation shape the rare-shingle dedup index uses.
    Postings are distinct (term, doc) pairs; each query touches only
    its terms' postings lists. The index is cached across the three
    queries."""
    d = Tables(spark, sf_dir).documents
    idx = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .distinct()
        .transform(op_cache)
    )

    def postings(term: str) -> DataFrame:
        return idx.filter(F.col("term") == term).select("doc_id")

    def q_and(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    def q_and_not(name: str, t1: str, t2: str) -> DataFrame:
        m = postings(t1).join(postings(t2), "doc_id", "left_anti")
        return m.agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        ).select(F.lit(name).alias("query"), "n_matches", "first_doc", "last_doc")

    return (
        q_and("hash AND join", "hash", "join")
        .unionByName(q_and("filter AND merge", "filter", "merge"))
        .unionByName(q_and_not("scan AND NOT batch", "scan", "batch"))
    )


# ===========================================================================
# wave module round5x (formerly operators/round5x.py)
# Round-5 twenty-fourth wave (SURVEY.md §2.Q, continued): keyset (seek)
# pagination.
# ===========================================================================


_PAGE_SIZE = 50


@register(
    "sort_keyset_pagination",
    oracle=f"""
WITH ranked AS (
  -- o_orderdate IS NOT NULL: keyset pagination requires a totally
  -- ordered, seekable cursor; a NULL date cannot anchor the predicate
  -- (o_orderdate > NULL is never true) so such rows are out of scope
  SELECT o_orderkey, o_orderdate, o_totalprice,
         row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_orderdate IS NOT NULL
)
SELECT CAST((rn - 1) // {_PAGE_SIZE} + 1 AS INT) AS page,
       o_orderkey, o_orderdate, o_totalprice
FROM ranked WHERE rn <= {3 * _PAGE_SIZE}
""",
)
def sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: three consecutive pages fetched
    by CURSOR PREDICATE — page n+1 filters (date, key) > (last row of
    page n) and takes the next {_PAGE_SIZE} — instead of OFFSET, which
    re-sorts and discards n·page rows per request (limit_offset
    documents that cost; this is the serving-scale answer). Each page
    is a pushdown-able range predicate + TakeOrderedAndProject; the
    oracle spells the same three pages as one ranked window. The
    (date, key) cursor is totally ordered because orderkey is unique —
    the precondition keyset pagination always needs."""
    o = (
        Tables(spark, sf_dir)
        .orders.where(F.col("o_orderdate").isNotNull())  # oracle mirrors
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    pages = []
    cursor = None  # (date, key) of last row seen
    for page_no in range(1, 4):
        q = o
        if cursor is not None:
            cd, ck = cursor
            q = q.filter(
                (F.col("o_orderdate") > F.lit(cd))
                | (
                    (F.col("o_orderdate") == F.lit(cd))
                    & (F.col("o_orderkey") > F.lit(ck))
                )
            )
        page = q.orderBy("o_orderdate", "o_orderkey").limit(_PAGE_SIZE)
        rows = page.collect()  # bounded: _PAGE_SIZE rows per fetch
        pages.append((page_no, rows))
        if not rows:  # exhausted relation (e.g. empty corpus): stop seeking
            break
        last = rows[-1]
        cursor = (last["o_orderdate"], last["o_orderkey"])
    flat = [
        (p, r["o_orderkey"], r["o_orderdate"], r["o_totalprice"])
        for p, rows in pages
        for r in rows
    ]
    return spark.createDataFrame(
        flat,
        "page int, o_orderkey bigint, o_orderdate timestamp_ntz,"
        " o_totalprice double",
    )


# ===========================================================================
# wave module round5z (formerly operators/round5z.py)
# Round-5 twenty-sixth wave (SURVEY.md §2.Q, continued): as-of join
# direction variants.
# ===========================================================================


@register(
    "join_asof_directions",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) AS t
  FROM events
),
windowed AS (
  SELECT user_id, event_id, t, event_type,
         last_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS err_before,
         first_value(CASE WHEN event_type = 'error' THEN t END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS err_after
  FROM seq
),
enriched AS (SELECT * FROM windowed WHERE event_type = 'purchase')
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN err_before IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_prior_error,
       CAST(max(t - err_before) AS BIGINT) AS max_us_since_error,
       CAST(min(err_after - t) AS BIGINT) AS min_us_to_next_error,
       CAST(sum(CASE WHEN err_before IS NOT NULL AND err_after IS NOT NULL
                      AND t - err_before <= err_after - t THEN 1
                     WHEN err_before IS NOT NULL AND err_after IS NULL THEN 1
                     ELSE 0 END) AS BIGINT) AS n_nearest_is_backward
FROM enriched GROUP BY user_id
""",
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full as-of direction family — BACKWARD (most recent error
    before each purchase), FORWARD (next error after), and NEAREST
    (whichever is closer, backward winning ties) — computed for every
    purchase without any self-join: two ignore-nulls windows over ONE
    user partitioning carry the prior/next error timestamps along the
    timeline (join_asof covers backward via join; this is the
    window-spelled generalization the direction argument of a real
    asof API maps to). Exact integer µs arithmetic; per-user rollup."""
    e = Tables(spark, sf_dir).events
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select(
        "user_id", "event_id", "event_type", t.alias("t")
    )
    err_t = F.when(F.col("event_type") == "error", F.col("t"))
    # asc_nulls_last: NULL-t rows sit at the partition end in the oracle
    # engine's ORDER BY t; matching placement keeps the carry windows
    # row-identical (NULL-t errors are skipped as VALUES by ignore-nulls
    # on both sides, but their POSITION shifts every neighbor otherwise)
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("t"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # strictly-after carry as a REVERSED running frame (same rewrite as
    # events_gap_fill_linear, round 10): Spark's unbounded-following frame
    # is O(n²) per partition; the descending running frame is O(n). The
    # reversed order mirrors (asc_nulls_last t, asc event_id) exactly.
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc_nulls_first("t"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = seq.select(
        "user_id",
        "event_id",
        "t",
        "event_type",
        F.last(err_t, ignorenulls=True).over(wb).alias("err_before"),
        F.last(err_t, ignorenulls=True).over(wf).alias("err_after"),
    ).filter(F.col("event_type") == "purchase")
    nearest_back = F.when(
        F.col("err_before").isNotNull()
        & F.col("err_after").isNotNull()
        & (
            F.col("t") - F.col("err_before")
            <= F.col("err_after") - F.col("t")
        ),
        1,
    ).when(
        F.col("err_before").isNotNull() & F.col("err_after").isNull(), 1
    ).otherwise(0)
    return enriched.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(F.col("err_before").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_prior_error"),
        F.max(F.col("t") - F.col("err_before"))
        .cast("bigint")
        .alias("max_us_since_error"),
        F.min(F.col("err_after") - F.col("t"))
        .cast("bigint")
        .alias("min_us_to_next_error"),
        F.sum(nearest_back).cast("bigint").alias("n_nearest_is_backward"),
    )
