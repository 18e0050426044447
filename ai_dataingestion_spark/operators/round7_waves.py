"""Round-7 operator waves, consolidated from the former per-wave modules
round7a–round7e (registration order preserved).
"""

from __future__ import annotations

import os
from pyspark.sql import DataFrame, SparkSession, functions as F
from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.functions.portable import hash60_expr, hash60_sql
from ai_dataingestion_spark.scale import hint_merge_if_large
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.tmpdirs import op_tmpdir
import glob
from ai_dataingestion_spark.registry import Tables
import shutil


# ===========================================================================
# wave module round7a (formerly operators/round7a.py)
# Round-6 fifty-third wave (SURVEY.md §2.R): lakehouse pipeline
# composition — the medallion (bronze/silver/gold) orders pipeline,
# mergeable HLL sketch hierarchy rollups, and multi-char-delimiter CSV
# ingestion.
# ===========================================================================

@register(
    "pipeline_medallion_orders",
    oracle="""
WITH bronze AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority FROM orders
  UNION ALL  -- injected corruption: negative totals (every 7th key)
  SELECT o_orderkey, o_custkey, o_orderstatus, -o_totalprice, o_orderdate,
         o_orderpriority FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL  -- injected corruption: null custkey (every 11th key)
  SELECT o_orderkey, NULL, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority FROM orders WHERE o_orderkey % 11 = 0),
silver AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                ORDER BY o_totalprice DESC) AS rn
    FROM bronze
    WHERE o_totalprice > 0 AND o_custkey IS NOT NULL) t
  WHERE rn = 1),
gold AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
         count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
  FROM silver GROUP BY 1, 2)
SELECT (SELECT count(*) FROM bronze) AS bronze_rows,
       (SELECT count(*) FROM silver) AS silver_rows,
       (SELECT count(*) FROM bronze) - (SELECT count(*) FROM silver)
         AS quarantined_rows,
       (SELECT count(*) FROM gold) AS gold_cells,
       CAST((SELECT round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
             FROM silver) AS DOUBLE) AS silver_rev,
       (SELECT round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
          FROM silver)
         = (SELECT round(sum(rev), 2) FROM gold) AS rev_reconciles
""",
)
def pipeline_medallion_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion lakehouse pipeline end-to-end, with REAL lake hops:
    bronze (raw orders + deterministically injected corruption — negative
    totals on every 7th key, null custkeys on every 11th) is WRITTEN to
    parquet, read back, validated and deduped into silver (rules drop
    corrupt rows; per-orderkey keep-highest-total resolves the duplicate
    the negative-total twin left behind), silver is WRITTEN again, and
    gold is the monthly-by-priority revenue mart aggregated from the
    silver files. The output row is the run's reconciliation ledger —
    bronze/silver/quarantine counts and the silver-vs-gold revenue
    equality a promotion job asserts before repointing the gold table.
    Every hop is a plain partial-aggregable or windowed plan: validation
    filters push into the silver scan, the dedup window partitions by
    orderkey, the mart is a two-key groupBy. At 100 TB each hop is the
    same plan over partitioned storage. Oracle: DuckDB composes the same
    three layers as CTEs (no files; content is what's compared)."""
    t = Tables(spark, sf_dir)
    base = t.orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    bronze = (
        base.unionAll(
            base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
                "o_totalprice", -F.col("o_totalprice")
            )
        ).unionAll(
            base.filter(F.col("o_orderkey") % 11 == 0).withColumn(
                "o_custkey", F.lit(None).cast("bigint")
            )
        )
    )
    root = op_tmpdir("medallion_")
    bronze_path = os.path.join(root, "bronze")
    silver_path = os.path.join(root, "silver")
    bronze.write.mode("overwrite").parquet(bronze_path)
    bronze_r = spark.read.schema(bronze.schema).parquet(bronze_path)

    from pyspark.sql import Window

    w = Window.partitionBy("o_orderkey").orderBy(F.desc("o_totalprice"))
    silver = (
        bronze_r.filter(
            (F.col("o_totalprice") > 0) & F.col("o_custkey").isNotNull()
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    silver.write.mode("overwrite").parquet(silver_path)
    silver_r = spark.read.schema(silver.schema).parquet(silver_path)

    gold = silver_r.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"),
    )

    b_n = bronze_r.agg(F.count(F.lit(1)).alias("bronze_rows"))
    s_agg = silver_r.agg(
        F.count(F.lit(1)).alias("silver_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2).alias(
            "srev"
        ),
    )
    g_agg = gold.agg(
        F.count(F.lit(1)).alias("gold_cells"),
        F.round(F.sum("rev"), 2).alias("grev"),
    )
    return (
        b_n.crossJoin(s_agg)
        .crossJoin(g_agg)
        .select(
            "bronze_rows",
            "silver_rows",
            (F.col("bronze_rows") - F.col("silver_rows")).alias(
                "quarantined_rows"
            ),
            "gold_cells",
            F.col("srev").cast("double").alias("silver_rev"),
            (F.col("srev") == F.col("grev")).alias("rev_reconciles"),
        )
    )


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


@register(
    "scan_csv_multichar_delim",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS rev
FROM orders GROUP BY 1
""",
)
def scan_csv_multichar_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character-delimiter CSV ingestion (sep='||'), the legacy
    mainframe/ETL export format single-char CSV readers can't split:
    orders are exported with '||' separators (values that could contain
    the delimiter are absent by construction — keys, statuses, money),
    read back with Spark's multi-char sep support + explicit schema, and
    aggregated. The written lake uses text-mode concat so the export is
    byte-deterministic; the read is a normal distributed CSV scan
    (splittable per file). Oracle: the same aggregate on the source
    relation — a lossy export/reimport would break counts or money.
    (DuckDB's own reader caps delimiters at 1 byte — the capability gap
    this operator documents.)"""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("csv_md_")
    # coalesce-to-empty, not concat_ws's null-SKIPPING: a skipped field
    # shifts every later column over the delimiter and corrupts the parse;
    # an empty field reads back as NULL (Spark CSV's default nullValue),
    # round-tripping the NULL faithfully
    line = F.concat(
        F.col("o_orderkey").cast("string"),
        F.lit("||"),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        F.lit("||"),
        F.coalesce(F.col("o_totalprice").cast("string"), F.lit("")),
    )
    t.orders.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.option("sep", "||")
        .schema("okey bigint, status string, price double")
        .csv(out)
    )
    return back.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("price").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("rev"),
    )


# ===========================================================================
# wave module round7b (formerly operators/round7b.py)
# Round-6 fifty-fourth wave (SURVEY.md §2.R): sync primitives —
# partition-grain content fingerprints and hash-shard balance audits.
# ===========================================================================


_PF_CANON_SPARK = (
    "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS STRING)"
)
_PF_CANON_DUCK = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR)"
)


@register(
    "quality_partition_fingerprint_diff",
    oracle=f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_rows,
       CAST(sum(CAST({hash60_sql(f"({_PF_CANON_DUCK})")} AS DECIMAL(38,0)))
            AS VARCHAR) AS fingerprint
FROM orders GROUP BY 1
""",
)
def quality_partition_fingerprint_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-grain content fingerprints: the per-month extension of
    quality_table_fingerprint (round6v) that turns "did the table
    change?" into "WHICH partitions diverged?" — the work-list an
    incremental re-sync job feeds from, re-copying only fingerprint-
    mismatched months instead of 100 TB. Same portable construction:
    md5-derived 60-bit row hashes over an engine-identical canonical
    rendering, summed per month in DECIMAL(38,0) (order-independent,
    duplicate-sensitive, partial-aggregable — the shuffle carries one
    decimal per (partition, month) pair). One scan, months-sized
    output."""
    t = Tables(spark, sf_dir)
    h = F.expr(hash60_expr(f"({_PF_CANON_SPARK})")).cast("decimal(38,0)")
    return t.orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("string").alias("fingerprint"),
    )


_N_SHARDS = 64


@register(
    "pipeline_shard_skew_audit",
    oracle=f"""
WITH sharded AS (
  SELECT {hash60_sql("CAST(doc_id AS VARCHAR)")} % {_N_SHARDS} AS shard
  FROM documents),
sizes AS (SELECT shard, count(*) AS n FROM sharded GROUP BY 1)
SELECT count(*) AS n_shards, CAST(min(n) AS BIGINT) AS min_docs,
       CAST(max(n) AS BIGINT) AS max_docs,
       CAST(round(max(n) * 1.0 / avg(n), 4) AS DOUBLE) AS peak_to_mean
FROM sizes
""",
)
def pipeline_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard balance audit: documents assigned to 64 output shards
    by a portable md5-derived hash of the doc key (the same family the
    dedup/split operators use — stable under repartition and across
    engines, unlike xxhash64 which DuckDB lacks), then the size spread
    and peak-to-mean ratio that decide whether a training-data export
    needs a different shard key or count. A peak-to-mean near 1.0 means
    no straggler shard; the audit is one partial-aggregable groupBy over
    8-byte hashes plus a 64-row reduce, so it costs one scan at any
    corpus size. Oracle: DuckDB computes the identical assignment."""
    t = Tables(spark, sf_dir)
    sharded = t.documents.select(
        (F.expr(hash60_expr("CAST(doc_id AS STRING)")) % _N_SHARDS).alias("shard")
    )
    sizes = sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.min("n").alias("min_docs"),
        F.max("n").alias("max_docs"),
        F.round(F.max("n") / F.avg("n"), 4).cast("double").alias(
            "peak_to_mean"
        ),
    )


# ===========================================================================
# wave module round7c (formerly operators/round7c.py)
# Round-6 fifty-fifth wave (SURVEY.md §2.R): lake scan/sink governance
# and SQL ergonomics — recursive glob scans, max-records-per-file sizing,
# the SQL PIVOT clause, and named WINDOW definitions.
# ===========================================================================

@register(
    "scan_recursive_glob",
    oracle="""
SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS year,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS rev
FROM orders
WHERE strftime(o_orderdate, '%Y') IN ('1995', '1996')
GROUP BY 1
""",
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive lake discovery with format filtering: orders for two
    years are written into ARBITRARILY nested directories (y=Y/nested/
    deep) alongside decoy JSON exports in sibling dirs, then read back
    with recursiveFileLookup=true + pathGlobFilter='*.parquet' — the
    scan must walk the whole tree, take only parquet, and skip the
    decoys without a schema error. This is how a scan survives the
    messy multi-producer lake layouts that partition-discovery
    conventions don't cover. The glob filter applies at file-listing
    time (planner-side), so decoy bytes are never read. Oracle: the
    year-filtered aggregate on the source relation — any missed or
    double-read file breaks counts."""
    t = Tables(spark, sf_dir)
    orders = t.orders
    root = op_tmpdir("rec_glob_")
    for y in (1995, 1996):
        part = orders.filter(F.year("o_orderdate") == y)
        part.write.mode("overwrite").parquet(
            os.path.join(root, f"y={y}", "nested", "deep")
        )
        part.limit(5).write.mode("overwrite").json(
            os.path.join(root, f"y={y}", "nested", "decoy_json")
        )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .schema(orders.schema)
        .parquet(root)
    )
    return back.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("rev"),
    )


_MAX_REC = 100


@register(
    "sink_max_records_per_file",
    oracle=f"""
SELECT CAST(CAST(ceil(count(*) / {_MAX_REC}.0) AS BIGINT) AS INTEGER)
         AS n_files,
       count(*) AS n_rows, true AS sizes_within_cap
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance on write: maxRecordsPerFile caps every
    output file at 100 rows, so a single writer task emits
    ceil(n/100) files instead of one unbounded blob — the knob that
    keeps downstream readers' task sizing uniform when upstream
    parallelism is low (here coalesce(1) forces the worst case: one
    task, many files). The audit re-lists the sink and fans the footer
    reads across executors via mapInPandas (the scan_parquet_footer_audit
    kernel) — a driver loop over per-file footers measured 124 s at the
    10x sweep's 15k files; distributed it is bounded by executor count,
    not file count. Output: file count, row reconciliation, and the
    per-file cap assertion. Oracle: the ceil arithmetic + source count."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("maxrec_")
    # Deterministic 10% export slice: the one-task worst case writes
    # files sequentially, so the demo input is bounded (the 10x sweep
    # measured 127 s for the unsliced 15k-file write — file-open cost,
    # not a plan defect; production caps are ~1M rows, not 100).
    export = t.orders.filter(F.col("o_orderkey") % 10 == 0)
    export.coalesce(1).write.option(
        "maxRecordsPerFile", _MAX_REC
    ).mode("overwrite").parquet(out)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(16, "path")

    def footer_rows(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            yield pd.DataFrame(
                {"rows": [pq.ParquetFile(p).metadata.num_rows
                          for p in b["path"]]}
            )

    per_file = paths.mapInPandas(footer_rows, "rows long")
    # Empty slice: the ungrouped agg still emits one row, and the oracle pins
    # literals (0 files, 0 rows, cap trivially satisfied) — coalesce the
    # NULL-on-empty aggregates to match (ADVICE r6).
    return per_file.agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.coalesce(F.sum("rows"), F.lit(0).cast("long")).alias("n_rows"),
        F.coalesce(F.max("rows") <= _MAX_REC, F.lit(True)).alias(
            "sizes_within_cap"
        ),
    )


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
# Round-6 fifty-sixth wave (SURVEY.md §2.R): Spark 4 extensibility and
# streaming-drain surface — the Python Data Source API, the built-in XML
# format round-trip, and Trigger.AvailableNow backlog drains.
# ===========================================================================

_PYDS_N = 10_000
_PYDS_PARTS = 8


@register(
    "source_python_datasource",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series(0, {_PYDS_N - 1})) AS k)
SELECT count(*) AS n, CAST(sum(k * k) AS BIGINT) AS sum_sq,
       count(DISTINCT k % {_PYDS_PARTS}) AS n_partitions_touched
FROM g
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom connector through Spark 4's Python Data Source API
    (SPARK-44076): a DataSource subclass registered by name, whose
    reader declares 8 InputPartitions and yields rows per partition —
    the extensibility path for ingesting from systems Spark has no
    built-in connector for, WITHOUT touching the JVM. Partition planning
    happens on the driver (the partitions() list); row generation runs
    in executor Python workers in parallel, one task per InputPartition,
    so a real connector shards its remote scan exactly like this. The
    deterministic synthetic payload (k, k²) strided across partitions
    lets the oracle recompute content arithmetically and the
    partition-residue count prove every shard contributed. Registration
    is idempotent per session (re-register overwrites)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeSquares(DataSource):
        @classmethod
        def name(cls) -> str:
            return "range_squares"

        def schema(self) -> str:
            return "k bigint, sq bigint"

        def reader(self, schema):
            return _SquareReader(self.options)

    class _SquareReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 100))
            self.parts = int(options.get("parts", 4))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, part):
            for k in range(part.value, self.n, self.parts):
                yield (k, k * k)

    spark.dataSource.register(RangeSquares)
    df = (
        spark.read.format("range_squares")
        .option("n", str(_PYDS_N))
        .option("parts", str(_PYDS_PARTS))
        .load()
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").cast("bigint").alias("sum_sq"),
        F.count_distinct(F.col("k") % _PYDS_PARTS).alias(
            "n_partitions_touched"
        ),
    )


@register(
    "scan_xml_roundtrip",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS rev
FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 1
""",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in XML data source (Spark 4.0, SPARK-44265 — the
    spark-xml package folded into core): a deterministic orders slice is
    WRITTEN as XML with rowTag=order and read back with an explicit
    schema, then aggregated — the legacy B2B feed round-trip (XML is
    still the wire format of EDI/finance feeds a 100 TB ingestion layer
    must accept). The reader splits on row tags across files and infers
    nothing here (explicit schema), so the scan parallelizes like any
    text-backed source. Oracle: the same aggregate on the source
    relation — a lossy XML round-trip breaks counts or money."""
    t = Tables(spark, sf_dir)
    out = op_tmpdir("xml_rt_")
    sliced = t.orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    sliced.write.format("xml").option("rowTag", "order").mode(
        "overwrite"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
        .load(out)
    )
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2)
        .cast("double")
        .alias("rev"),
    )


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
# Round-6 fifty-seventh wave (SURVEY.md §2.R): decision-science and
# data-contract operators — Jaccard link prediction on the co-purchase
# graph and a one-pass declarative expectation suite.
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


@register(
    "quality_expectation_suite",
    oracle="""
WITH m AS (
  SELECT count(*) AS n_rows,
         count(DISTINCT o_orderkey) AS n_keys,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_null_cust,
         sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
           AS n_bad_status,
         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_bad_price,
         CAST(CAST(max(o_orderdate) AS DATE) <= DATE '2026-01-01' AS INTEGER)
           AS fresh_ok
  FROM orders)
SELECT 'row_count_positive' AS expectation,
       CAST(n_rows AS VARCHAR) AS observed, n_rows > 0 AS passed FROM m
UNION ALL
SELECT 'pk_unique', CAST(n_rows - n_keys AS VARCHAR), n_rows = n_keys FROM m
UNION ALL
SELECT 'custkey_not_null', CAST(n_null_cust AS VARCHAR), n_null_cust = 0
FROM m
UNION ALL
SELECT 'status_in_domain', CAST(n_bad_status AS VARCHAR), n_bad_status = 0
FROM m
UNION ALL
SELECT 'price_positive', CAST(n_bad_price AS VARCHAR), n_bad_price = 0 FROM m
UNION ALL
SELECT 'orderdate_not_future', CAST(fresh_ok AS VARCHAR), fresh_ok = 1 FROM m
""",
)
def quality_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A declarative data-contract suite (the Great-Expectations shape)
    evaluated in ONE scan: six expectations — row count, PK uniqueness,
    null rate, value domain, range rule, freshness bound — computed as a
    single multi-aggregate pass over orders, then unpivoted to one
    (expectation, observed, passed) row each. The complement to
    quality_constraints (which emits per-violation ROWS for quarantine):
    this is the green/red contract REPORT a pipeline gate reads, costing
    one partial-aggregable pass regardless of how many expectations are
    declared. Oracle: the same metrics CTE in DuckDB."""
    t = Tables(spark, sf_dir)
    m = t.orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "n_null_cust"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("n_bad_status"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "n_bad_price"
        ),
        (F.max(F.col("o_orderdate").cast("date")) <= F.lit("2026-01-01").cast("date"))
        .cast("int")
        .alias("fresh_ok"),
    )
    return m.selectExpr(
        "stack(6, "
        "'row_count_positive', CAST(n_rows AS STRING), n_rows > 0, "
        "'pk_unique', CAST(n_rows - n_keys AS STRING), n_rows = n_keys, "
        "'custkey_not_null', CAST(n_null_cust AS STRING), n_null_cust = 0, "
        "'status_in_domain', CAST(n_bad_status AS STRING), n_bad_status = 0, "
        "'price_positive', CAST(n_bad_price AS STRING), n_bad_price = 0, "
        "'orderdate_not_future', CAST(fresh_ok AS STRING), fresh_ok = 1) "
        "AS (expectation, observed, passed)"
    )


# ===========================================================================
# wave module round7f (round-7 fifty-eighth wave, SURVEY.md §2.R): scalable
# global row indexing without a single-task window, CDC apply with delete
# tombstones, and IP/CIDR log-enrichment joins.
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


@register(
    "pipeline_cdc_apply_deletes",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(38,2)) AS price
  FROM orders WHERE o_orderkey % 7 <> 0),
feed AS (
  SELECT o_orderkey, 'D' AS op, 1 AS seq, o_orderstatus,
         CAST(NULL AS DECIMAL(38,2)) AS price
  FROM base WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 2, o_orderstatus, round(price * 1.1, 2)
  FROM base WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 'I', 3, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(38,2))
  FROM orders WHERE o_orderkey % 7 = 0),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC) AS rn
    FROM feed) f WHERE rn = 1),
final AS (
  SELECT b.o_orderstatus, b.price FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM latest l
                    WHERE l.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT o_orderstatus, price FROM latest WHERE op <> 'D')
SELECT o_orderstatus AS status, count(*) AS n_rows,
       CAST(round(sum(price), 2) AS DOUBLE) AS total
FROM final GROUP BY o_orderstatus
""",
)
def pipeline_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY with delete tombstones — the missing third of the CDC
    family (pipeline_cdc_diff PRODUCES a feed, pipeline_upsert_merge
    applies inserts+updates; this applies a full I/U/D feed where a key
    can carry several ops and the LATEST sequence number wins, including
    U-after-D resurrection, exercised here for every key divisible by
    15). Shapes that survive 100 TB: latest-wins is one key-partitioned
    window over the FEED (change feeds are small relative to the
    snapshot), the apply is an anti-join (untouched base rows) plus the
    surviving non-tombstone feed rows — all key-equality ops, nothing
    broadcast that grows with the corpus. Money stays DECIMAL end to
    end; the one float cast happens after the final rounded sum. Oracle:
    the identical CTE chain."""
    t = Tables(spark, sf_dir)
    key = F.col("o_orderkey")
    base = t.orders.filter(key % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(38,2)").alias("price"),
    )
    feed = (
        base.filter(key % 3 == 0)
        .select(
            "o_orderkey",
            F.lit("D").alias("op"),
            F.lit(1).alias("seq"),
            "o_orderstatus",
            F.lit(None).cast("decimal(38,2)").alias("price"),
        )
        .unionByName(
            base.filter(key % 5 == 0).select(
                "o_orderkey",
                F.lit("U").alias("op"),
                F.lit(2).alias("seq"),
                "o_orderstatus",
                # 1.1BD keeps the multiply in exact DECIMAL arithmetic
                # (a bare 1.1 literal is a double and promotes the whole
                # expression to DOUBLE before the round — ADVICE r7); the
                # DuckDB oracle's 1.1 literal is likewise exact decimal.
                F.round(F.col("price") * F.expr("1.1BD"), 2)
                .cast("decimal(38,2)")
                .alias("price"),
            )
        )
        .unionByName(
            t.orders.filter(key % 7 == 0).select(
                "o_orderkey",
                F.lit("I").alias("op"),
                F.lit(3).alias("seq"),
                "o_orderstatus",
                F.col("o_totalprice").cast("decimal(38,2)").alias("price"),
            )
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    latest = (
        feed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    final = base.join(
        latest.select("o_orderkey"), "o_orderkey", "left_anti"
    ).select("o_orderstatus", "price").unionByName(
        latest.filter(F.col("op") != "D").select("o_orderstatus", "price")
    )
    return final.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("price"), 2).cast("double").alias("total"),
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
