"""Round-7 operator waves, consolidated from the former per-wave modules
round7a–round7e (registration order preserved).
"""

from __future__ import annotations

import os
from pyspark.sql import DataFrame, SparkSession, functions as F
from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.scale import hint_merge_if_large
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.tmpdirs import op_tmpdir
import shutil


# ===========================================================================
# wave module round7c (formerly operators/round7c.py)
# Round-6 fifty-fifth wave (SURVEY.md §2.R): SQL ergonomics — the SQL
# PIVOT clause and named WINDOW definitions.
# ===========================================================================


_PIVOT_SPARK = """
SELECT * FROM (
  SELECT c_mktsegment AS seg, o_orderstatus AS st, o_totalprice AS p
  FROM orders JOIN customer ON o_custkey = c_custkey)
PIVOT (count(*) AS n,
       CAST(round(sum(CAST(p AS DECIMAL(38,6))), 2) AS DOUBLE) AS rev
       FOR st IN ('F' AS f, 'O' AS o, 'P' AS pp))
"""

_PIVOT_DUCK = """
SELECT seg,
  count(*) FILTER (st='F') AS f_n,
  CAST(round(sum(CAST(p AS DECIMAL(38,6))) FILTER (st='F'), 2) AS DOUBLE)
    AS f_rev,
  count(*) FILTER (st='O') AS o_n,
  CAST(round(sum(CAST(p AS DECIMAL(38,6))) FILTER (st='O'), 2) AS DOUBLE)
    AS o_rev,
  count(*) FILTER (st='P') AS pp_n,
  CAST(round(sum(CAST(p AS DECIMAL(38,6))) FILTER (st='P'), 2) AS DOUBLE)
    AS pp_rev
FROM (SELECT c_mktsegment AS seg, o_orderstatus AS st, o_totalprice AS p
      FROM orders JOIN customer ON o_custkey = c_custkey) t
GROUP BY seg
"""


sql_op(
    "sql_pivot_clause",
    spark_sql=_PIVOT_SPARK,
    oracle=_PIVOT_DUCK,
    doc="""The SQL PIVOT clause (Spark 3.4+): two measures (count, revenue)
    spread across three pinned status columns per market segment —
    the analyst spelling of the DataFrame pivot already covered by
    pivot_wide. Pinned IN-list means no extra distinct-values job;
    Catalyst compiles the clause to the same single partial-aggregable
    hash aggregate as manual FILTER columns (which is exactly how the
    DuckDB oracle spells it, pinning both semantics and output naming
    f_n/f_rev/...).""",
)


# NULLS LAST is spelled out because this one statement runs VERBATIM on
# both engines, whose ASC defaults disagree (Spark NULLS FIRST, oracle
# NULLS LAST) — the only dialect-divergent piece of an otherwise shared text
_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS rn,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w, 2)
            AS DOUBLE) AS run_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS LAST, o_orderkey)
"""


sql_op(
    "sql_named_window_clause",
    spark_sql=_WINDOW_SQL,
    oracle=_WINDOW_SQL,
    doc="""Named WINDOW definitions: one shared `WINDOW w AS (...)` clause
    referenced by multiple over-expressions — the deduplicated spelling
    that also guarantees both functions share ONE physical Window node
    (same partitioning + ordering => one sort, one pass), instead of
    the accidental two-window plans copy-pasted inline specs can drift
    into. Both engines run the identical statement; the running sum's
    default frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) ties by the
    orderkey sort key so it is deterministic.""",
)


# ===========================================================================
# wave module round7d (formerly operators/round7d.py)
# Round-6 fifty-sixth wave (SURVEY.md §2.R): Trigger.AvailableNow backlog
# drains.
# ===========================================================================


@register(
    "stream_available_now_drain",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n
FROM orders GROUP BY 1
""",
)
def stream_available_now_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backlog drain: a two-batch file backlog is
    processed by a STREAMING query that reads everything currently
    available in rate-limited micro-batches and then STOPS — the
    idempotent catch-up mode a scheduled ingestion job uses instead of
    an always-on stream (same checkpoint, same exactly-once file sink;
    re-running after new arrivals drains only the delta). The drained
    sink is read back and aggregated; equality with the source proves
    no batch was lost or doubled across micro-batch boundaries. Oracle:
    the source aggregate."""
    t = Tables(spark, sf_dir)
    orders = t.orders
    root = op_tmpdir("anow_")
    src = os.path.join(root, "src")
    ck = os.path.join(root, "ck")
    out = os.path.join(root, "out")
    shutil.rmtree(src, ignore_errors=True)
    orders.filter(F.col("o_orderkey") % 2 == 0).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "batch1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "batch2"))
    stream = (
        spark.readStream.schema(orders.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # a hung drain must fail loudly, not aggregate a partial sink as if
        # it were the full backlog (ADVICE r6)
        q.stop()
        raise TimeoutError("AvailableNow drain did not finish within 300s")
    os.makedirs(out, exist_ok=True)  # zero-row drain: sink dir may be bare
    back = spark.read.schema(orders.schema).parquet(out)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ===========================================================================
# wave module round7e (formerly operators/round7e.py)
# Round-6 fifty-seventh wave (SURVEY.md §2.R): Jaccard link prediction on
# the co-purchase graph.
# ===========================================================================

_LINKPRED_SQL = """
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
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
    basket = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    edges = (
        basket.alias("ba")
        .join(
            hint_merge_if_large(basket.alias("bb"), sf_dir, "lineitem"),
            (F.col("ba.l_orderkey") == F.col("bb.l_orderkey"))
            & (F.col("ba.l_partkey") < F.col("bb.l_partkey")),
        )
        .select(
            F.col("ba.l_partkey").alias("pa"), F.col("bb.l_partkey").alias("pb")
        )
        .distinct()
    )
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


# ===========================================================================
# wave module round7f (round-7 fifty-eighth wave, SURVEY.md §2.R): weighted
# systematic sampling.
# ===========================================================================

from pyspark.sql import Window


_SYS_K = 100  # systematic sample size (thresholds at (2j+1)·W/2k, j<k)


@register(
    "sample_weighted_systematic",
    oracle="""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
         sum(CAST(n_chars AS BIGINT)) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents),
tot AS (SELECT sum(CAST(n_chars AS BIGINT)) AS big_w FROM documents),
p AS (
  SELECT doc_id, wt,
         CAST(((cum * 200) + big_w) // (2 * big_w)
              - (((cum - wt) * 200) + big_w) // (2 * big_w) AS BIGINT)
           AS n_picks
  FROM w CROSS JOIN tot)
SELECT doc_id, wt, n_picks FROM p WHERE n_picks > 0
""",
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted sampling (systematic / Madow): lay k=100 equally
    spaced thresholds (2j+1)·W/2k over the cumulative-weight axis (W =
    total n_chars) and pick every document whose weight interval contains
    a threshold — inclusion probability proportional to weight, heavy
    docs picked multiple times (n_picks), ZERO transcendentals: every
    comparison is BIGINT arithmetic via the closed form
    f(x) = (x·2k + W) div (2W), n_picks = f(cum) − f(cum − wt), so the
    result is bit-identical across engines (no A-Res u^(1/w) float
    ranking to drift in the last ulp). The cumulative sum uses the
    fn_global_row_index_scalable pattern — range repartition by doc_id,
    bounded per-partition weight-sum collect (<=32 rows), broadcast
    offsets, partition-LOCAL running sum — never a single-task global
    window. The mixture-sampling primitive a corpus-curation pipeline
    uses to downsample by quality weight. Oracle: DuckDB window cumsum +
    the same integer arithmetic (// truncation == floor here because
    every operand is non-negative; the SURVEY §5.4 negative-div trap is
    avoided by construction)."""
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.col("n_chars").cast("long").alias("wt")
    )
    ranged = (
        docs.repartitionByRange(32, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(op_cache)
    )
    part_sums = sorted(
        (r["pid"], r["s"])
        for r in ranged.groupBy("pid").agg(F.sum("wt").alias("s")).collect()
    )
    offsets, acc = [], 0
    for pid, s in part_sums:
        offsets.append((pid, acc))
        acc += s
    big_w = acc
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (F.col("off") + F.sum("wt").over(w)).alias("cum")
    picks = ranged.join(F.broadcast(off_df), "pid").select(
        "doc_id", "wt", cum
    )
    # pure BIGINT `DIV` (truncation == floor: operands non-negative) — a
    # float floor() here would lose exactness past 2^53 at lake scale
    two_w = 2 * big_w if big_w else 1  # empty-corpus guard (0 rows anyway)
    k2 = 2 * _SYS_K
    n_picks = F.expr(
        f"(cum * {k2} + {big_w}L) DIV {two_w}L"
        f" - ((cum - wt) * {k2} + {big_w}L) DIV {two_w}L"
    )
    return (
        picks.withColumn("n_picks", n_picks.cast("long"))
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "wt", "n_picks")
    )
