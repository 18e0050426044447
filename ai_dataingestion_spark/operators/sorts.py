"""§2.F Sorts / limits / top-k, keyset pagination, sampling and splits.

The driver's value hash is order-insensitive, so sort correctness is made
observable by materializing the position as a `row_number` column. Global
top-k compiles to TakeOrderedAndProject — per-partition heaps + driver merge,
never a full sort — which is exactly the plan wanted at 100 TB; per-group
top-k plans WindowGroupLimit, so each partition trims before the shuffle.

- NULL placement is always spelled: the engines' ASC defaults disagree
  (Spark NULLS FIRST, DuckDB NULLS LAST).
- Samples and splits are seedless: a row's fate is a function of its key
  (``hash_bucket``, or an md5 ranking), so it is the same under re-runs,
  repartitioning and either engine, which ``rand()`` sampling is not.
- Counts and keys are exact; a ratio rounds at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import hash_bucket, hash_bucket_sql
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.scale import broadcast_if_small


@register(
    "sort_multi",
    oracle="""
SELECT c_custkey, c_mktsegment, seg_or_null, round(c_acctbal, 2) AS acctbal,
       row_number() OVER (
         ORDER BY seg_or_null ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC
       ) AS pos
FROM (
  SELECT *, nullif(c_mktsegment, 'BUILDING') AS seg_or_null FROM customer
)
""",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with mixed asc/desc and NULLS FIRST, exposed via a
    position column (nullif injects nulls so the null-ordering is exercised)."""
    c = Tables(spark, sf_dir).customer.withColumn(
        "seg_or_null", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    )
    order = [
        F.col("seg_or_null").asc_nulls_first(),
        F.col("c_acctbal").desc(),
        F.col("c_custkey").asc(),
    ]
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "seg_or_null",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.row_number().over(Window.orderBy(*order)).alias("pos"),
    )


@register(
    "topk_global",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price with a deterministic tiebreak; plans as
    TakeOrderedAndProject (no global sort)."""
    return (
        Tables(spark, sf_dir)
        .orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "limit_offset",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15 OFFSET 25
""",
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination slice (rows 26..40 of the deterministic price ranking)."""
    return (
        Tables(spark, sf_dir)
        .orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(25)
        .limit(15)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


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


@register(
    "split_train_eval",
    oracle=f"""
SELECT doc_id, bucket_hex,
       CASE WHEN bucket_hex BETWEEN '0' AND 'b' THEN 'train'
            WHEN bucket_hex BETWEEN 'c' AND 'd' THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, {hash_bucket_sql("doc_id", "doc")} AS bucket_hex
  FROM documents
)
""",
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free key hashing
    (md5 of the salted id — identical hex on every engine and every run,
    unlike seeded sampling, which is not reproducible across engines or
    partitionings): first hex nibble → 12/2/2 train/val/test. This is how
    training pipelines split at 100 TB — stable under re-runs, joins, and
    repartitioning, and a document's split never changes when the corpus
    grows."""
    d = Tables(spark, sf_dir).documents
    bucket = hash_bucket("doc_id", "doc")
    return d.select(
        "doc_id",
        bucket.alias("bucket_hex"),
        F.when(bucket.between("0", "b"), "train")
        .when(bucket.between("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sample_stratified",
    oracle=f"""
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_frac
FROM (
  SELECT source,
         {hash_bucket_sql("doc_id", "smp")}
           < (CASE WHEN source IN ('src0','src1','src2','src3')
                   THEN '8' ELSE '2' END) AS kept
  FROM documents
)
GROUP BY source
ORDER BY source
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data-mixing control: up-sample
    head domains at 8/16, tail at 2/16): keep a row iff the first md5
    nibble of its salted id clears the per-stratum threshold. Hash-based,
    so the sample is stable under re-runs, repartitioning, and engine
    choice — unlike rand()-based sampling. Pure map-side until the audit
    aggregate."""
    d = Tables(spark, sf_dir).documents
    nib = hash_bucket("doc_id", "smp")
    thr = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit("8")
    ).otherwise(F.lit("2"))
    kept = (nib < thr).cast("int")
    return (
        d.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(
                F.sum("kept").cast("double") / F.count(F.lit(1)), 6
            ).alias("kept_frac"),
        )
    )
