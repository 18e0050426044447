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
# wave module round7a (formerly operators/round7a.py)
# Round-6 fifty-third wave (SURVEY.md §2.R): mergeable HLL sketch
# hierarchy rollups.
# ===========================================================================


@register(
    "agg_hll_union_rollup",
    oracle="""
SELECT strftime(ts, '%Y-%m') AS month,
       count(DISTINCT user_id) AS exact_u,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       true AS within_5pct
-- ts IS NOT NULL: a NULL timestamp has no grain cell at any rollup level
FROM events WHERE ts IS NOT NULL GROUP BY 1
""",
)
def agg_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch hierarchy rollup with Spark 3.5's built-in
    Apache DataSketches HLL functions: per-DAY hll_sketch_agg(user_id)
    sketches union upward to months via hll_union_agg — distinct counts
    DON'T roll up, sketches DO, which is why a 100 TB metrics store keeps
    constant-size sketch columns per grain instead of recomputing
    distincts from raw events at every level. lgConfigK=14 bounds the
    standard error at ~0.8%, so the month-level estimate must land within
    5% of the exact distinct (asserted per month). Unlike the
    DataSketches-library agg_hll_sketch_merge (rows-only by design), the
    contract form here is oracle-checkable: exact counts + the
    within-bound boolean. Both aggregation levels are partial-aggregable;
    the shuffle carries <=16 KB sketch blobs."""
    t = Tables(spark, sf_dir)
    ev = t.events.where(F.col("ts").isNotNull())  # oracle mirrors
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    monthly = daily.groupBy("month").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(F.count_distinct("user_id").alias("exact_u"))
    return monthly.join(exact, "month").select(
        "month",
        "exact_u",
        F.col("n_days").cast("bigint").alias("n_days"),
        (
            F.abs(F.col("est") - F.col("exact_u")) / F.col("exact_u")
            <= 0.05
        ).alias("within_5pct"),
    )


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
# wave module round7f (round-7 fifty-eighth wave, SURVEY.md §2.R): scalable
# global row indexing without a single-task window and IP/CIDR
# log-enrichment joins.
# ===========================================================================

from pyspark.sql import Window


@register(
    "fn_global_row_index_scalable",
    oracle="""
SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS global_idx
FROM orders
""",
)
def fn_global_row_index_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global 1-based row index ordered by a unique key WITHOUT the
    single-task global window (``row_number() OVER (ORDER BY k)`` with no
    PARTITION BY funnels 100 TB through ONE task — the canonical scale
    killer, banned here by a plan test asserting no SinglePartition
    exchange). The scalable shape: range-repartition on the key (order
    ACROSS partitions), stamp the physical partition id, count rows per
    partition (collect is bounded by the partition count, 32 rows — not
    the corpus), turn counts into per-partition starting offsets on the
    driver, then add a PARTITION-LOCAL row_number to the broadcast
    offset. The ranged relation is persisted so the sampled range
    boundaries are computed once and both passes (counts, final index)
    see identical partition assignment. Oracle: the single-window
    row_number DuckDB can afford at sf0.01."""
    t = Tables(spark, sf_dir)
    n_parts = 32
    ranged = (
        t.orders.select("o_orderkey")
        .repartitionByRange(n_parts, "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .transform(op_cache)
    )
    # bounded driver collect: <= n_parts rows regardless of corpus size
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return (
        ranged.withColumn("local_idx", F.row_number().over(w))
        .join(F.broadcast(off_df), "pid")  # n_parts rows: dimension-bounded
        .select(
            "o_orderkey",
            (F.col("off") + F.col("local_idx")).alias("global_idx"),
        )
    )


# 10.0.0.0/9 + 10.128.0.0/9 partition the /8; 10.42.0.0/16 nests inside
# corp-a so longest-prefix matching is actually exercised. (label, lo, hi,
# prefix_len) with lo/hi precomputed as ints — same literals in the oracle.
_CIDR_BLOCKS = [
    ("corp-a", 167772160, 176160767, 9),
    ("corp-b", 176160768, 184549375, 9),
    ("lab", 170524672, 170590207, 16),
]


@register(
    "fn_ip_cidr_match",
    oracle="""
WITH ip AS (
  SELECT event_id, user_id,
         167772160 + (user_id % 200) * 65536
         + ((user_id * 7) % 256) * 256 + ((user_id * 13) % 256) AS ip_int
  FROM events),
cidr AS (SELECT * FROM (VALUES
    ('corp-a', 167772160, 176160767, 9),
    ('corp-b', 176160768, 184549375, 9),
    ('lab',    170524672, 170590207, 16)) t(label, lo, hi, plen)),
m AS (
  SELECT event_id, max(user_id) AS user_id,
         arg_max(label, plen) AS label
  FROM ip JOIN cidr ON ip_int BETWEEN lo AND hi
  GROUP BY event_id)
SELECT label, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM m GROUP BY label
""",
)
def fn_ip_cidr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-ingestion IP enrichment: synthesize a deterministic dotted-quad
    per event (octets are pure user_id arithmetic), PARSE it back to a
    32-bit integer JVM-side (split + casts + place-value multiply — the
    string round-trip is proven against an oracle that computes the int
    directly), then longest-prefix-match against a CIDR block table via
    an integer range join. Scale shapes: the block table is a bounded
    literal dimension, so the BETWEEN join is a broadcast nested loop
    that costs O(rows x blocks) with tiny blocks — linear, never
    row x row; longest-prefix selection is a partial-aggregable
    max_by(label, prefix_len) per event (no same-length overlaps exist
    by construction, so max_by is deterministic), not a window. Oracle:
    identical block literals + arg_max."""
    t = Tables(spark, sf_dir)
    uid = F.col("user_id")
    # F.concat, not concat_ws: concat_ws SKIPS null args, so a NULL user_id
    # would emit a short dotted-quad whose split()[3] is an ANSI
    # out-of-bounds crash; concat propagates the NULL end-to-end, matching
    # the oracle's null-propagating arithmetic (NULL ip joins nothing).
    ip_str = F.concat(
        F.lit("10."),
        (uid % 200).cast("string"),
        F.lit("."),
        ((uid * 7) % 256).cast("string"),
        F.lit("."),
        ((uid * 13) % 256).cast("string"),
    )
    parts = F.split(ip_str, r"\.")
    ip_int = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    ip = t.events.select("event_id", "user_id", ip_int.alias("ip_int"))
    cidr = spark.createDataFrame(
        _CIDR_BLOCKS, "label string, lo long, hi long, plen int"
    )
    matched = ip.join(
        F.broadcast(cidr),  # bounded literal dim: broadcast is always safe
        (F.col("ip_int") >= F.col("lo")) & (F.col("ip_int") <= F.col("hi")),
    )
    per_event = matched.groupBy("event_id").agg(
        F.max("user_id").alias("user_id"),
        F.expr("max_by(label, plen)").alias("label"),
    )
    return per_event.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


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
