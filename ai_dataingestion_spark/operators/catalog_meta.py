"""Catalog metadata as relations (spark.catalog / information-schema
shaped): the declared-schema inventory, per-table profiles and temporal
coverage, partition inventory and the table-property lifecycle.

The engine registers its 10-table corpus as session views with DECLARED
schemas (registry.SCHEMAS — never inferred; SURVEY.md §1.4). These
operators turn the LIVE catalog back into relations and pin it against the
declaration:

- the column inventory proves every loader presents exactly the declared
  engine-facing schema (the events ts shim must surface as timestamp_ntz,
  the embeddings vector as array<float> — a silent loader drift shows up
  as a row diff, the failure mode the round-3 corpus regeneration caused);
- the table profile joins metadata (column counts) with data (row counts),
  the 'is the catalog consistent with what's on disk' reconciliation;
- the type census aggregates the inventory into the cross-table type
  harmonization audit (join keys must agree in type or every join pays a
  cast — dimension keys int, fact keys bigint, exactly as declared).

Scale posture: catalog introspection is driver-side METADATA access over a
fixed 10-table / ~50-column dictionary — O(tables), never O(rows), so
building the inventory DataFrame from the catalog listing is constant work
at any corpus size (the anti-pattern would be deriving metadata by
scanning data; only the table profile touches rows, via count(*) which
parquet answers from footer statistics without a full scan). Oracles for
pure-metadata ops are the declaration itself rendered as literal rows —
Spark reads the LIVE catalog, DuckDB evaluates the DECLARED expectation,
and green means live == declared.

The table profiles are one partial-aggregable scan and one row per table.
The partition inventory is pure metadata (SHOW PARTITIONS lists directory
names, never data) checked against one partition-pruned read-back of a
per-corpus warehouse table (``registry.warehouse_table``); the property
lifecycle is catalog-only, constant cost at any data scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import (
    sql_quote,
    stable_rounded_sum,
    stable_rounded_sum_sql,
)
from ai_dataingestion_spark.registry import (
    SCHEMAS,
    TABLE_NAMES,
    Tables,
    register_views,
    warehouse_table,
)


def _declared_rows() -> list[tuple[str, str, str, int]]:
    """(table, column, simpleString type, ordinal) straight from the
    declared schemas — the single source both oracle literals render."""
    rows: list[tuple[str, str, str, int]] = []
    for t in TABLE_NAMES:
        for i, f in enumerate(SCHEMAS[t].fields):
            rows.append((t, f.name, f.dataType.simpleString(), i))
    return rows


_INVENTORY_VALUES = ",\n  ".join(
    f"({sql_quote(t)}, {sql_quote(c)}, {sql_quote(dt)}, {i})"
    for t, c, dt, i in _declared_rows()
)

_CENSUS_VALUES = ",\n  ".join(
    f"({sql_quote(t)}, {sql_quote(dt)})" for t, _, dt, _ in _declared_rows()
)


@register(
    "catalog_meta_columns_inventory",
    oracle=f"""
SELECT table_name, column_name, data_type, CAST(ordinal AS BIGINT) AS ordinal
FROM (VALUES
  {_INVENTORY_VALUES}
) AS v(table_name, column_name, data_type, ordinal)
""",
)
def catalog_meta_columns_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live column inventory: every registered view's columns with
    their engine-facing types and ordinals, read from spark.catalog (NOT
    from the declarations). Oracle = the declared schemas rendered as
    literal rows, so green means the loaders present exactly the contract
    schema — including the two load-time normalizations a drift would
    silently undo (events.ts nanos→timestamp_ntz shim, declared-not-
    inferred parquet types). O(columns) driver metadata; zero data
    scanned."""
    register_views(spark, sf_dir)
    rows = []
    for t in TABLE_NAMES:
        for i, c in enumerate(spark.catalog.listColumns(t)):
            rows.append((t, c.name, c.dataType, i))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string, ordinal long"
    )


_PROFILE_UNION = "\n  UNION ALL ".join(
    f"SELECT {sql_quote(t)} AS table_name, "
    f"CAST({len(SCHEMAS[t].fields)} AS BIGINT) AS n_columns, "
    f"(SELECT count(*) FROM {t}) AS n_rows"
    for t in TABLE_NAMES
)


@register(
    "catalog_meta_table_profile",
    oracle=f"SELECT * FROM (\n  {_PROFILE_UNION}\n)",
)
def catalog_meta_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-to-data reconciliation per table: column count from the
    live catalog joined with the row count from the relation itself. The
    count(*) side is footer-answered for parquet (no column data read);
    the metadata side is O(1) catalog access. The oracle hardcodes the
    declared column counts — so a schema change that forgot to update the
    contract surfaces here even if every per-column test was updated."""
    register_views(spark, sf_dir)
    # Live column counts via analyzer resolution (spark.table(t).columns,
    # ~4 ms/table) rather than spark.catalog.listColumns (~230 ms/table of
    # catalog-command round-trips — 2.3 s of the op's 2.2 s plan-audit wall
    # was THIS, not the counts). Both read the live session catalog; the
    # full per-column metadata surface stays exercised by
    # catalog_meta_columns_inventory, where it is the point.
    meta = spark.createDataFrame(
        [(t, len(spark.table(t).columns)) for t in TABLE_NAMES],
        "table_name string, n_columns long",
    )
    # Per-table counts as UNCORRELATED SCALAR SUBQUERIES, not a unioned
    # groupBy tree (VERDICT-r13 item 7): AQE submits a union-of-aggregates
    # as ten sequential shuffle-stage jobs, each paying the local job
    # floor (~2.2 s additive wall at sf0.1); scalar subqueries execute in
    # Spark's parallel subquery thread pool, so all ten footer counts run
    # concurrently (~0.6 s measured — the ~70% cut the plan audit asked
    # for). Same footer-only scan per table either way.
    counts = spark.sql(
        "SELECT * FROM (\n  "
        + "\n  UNION ALL ".join(
            f"SELECT {sql_quote(t)} AS table_name, "
            f"(SELECT count(*) FROM {t}) AS n_rows"
            for t in TABLE_NAMES
        )
        + "\n)"
    )
    return meta.join(counts, "table_name").select(
        "table_name", "n_columns", "n_rows"
    )


@register(
    "catalog_meta_type_census",
    oracle=f"""
SELECT data_type,
       CAST(count(*) AS BIGINT) AS n_columns,
       CAST(count(DISTINCT table_name) AS BIGINT) AS n_tables
FROM (VALUES
  {_CENSUS_VALUES}
) AS v(table_name, data_type)
GROUP BY data_type
""",
)
def catalog_meta_type_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table type census from the live catalog: how many columns and
    tables use each engine type. This is the type-harmonization audit —
    the declared dictionary keeps join-key families aligned (int dimension
    keys, bigint fact keys) so no join in the engine pays an implicit
    cast; a type drifting in ONE table changes this census even when the
    per-table inventory diff is easy to miss. Aggregated JVM-side from the
    same O(columns) metadata rows as the inventory."""
    # r17: live types via analyzer schema resolution (spark.table(t).schema,
    # ~4 ms/table) instead of spark.catalog.listColumns (~100 ms/table of
    # catalog-command round trips — ~1 s of this op's 1.4 s wall; the same
    # substitution catalog_meta_table_profile made in r13). Both read the
    # LIVE session catalog; the per-column catalog-API surface stays
    # exercised by catalog_meta_columns_inventory, where it is the point.
    register_views(spark, sf_dir)
    rows = []
    for t in TABLE_NAMES:
        for f in spark.table(t).schema.fields:
            rows.append((t, f.dataType.simpleString()))
    live = spark.createDataFrame(rows, "table_name string, data_type string")
    return live.groupBy("data_type").agg(
        F.count(F.lit(1)).alias("n_columns"),
        F.countDistinct("table_name").alias("n_tables"),
    )


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


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@register(
    "catalog_show_partitions_inventory",
    oracle=f"""
SELECT coalesce(CAST((o_orderkey % 8 + 8) % 8 AS VARCHAR),
                '{_HIVE_NULL}') AS pk_bucket,
       count(*) AS n_rows,
       {stable_rounded_sum_sql("o_totalprice", 2)} AS price_sum
FROM orders
GROUP BY 1
""",
)
def catalog_show_partitions_inventory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition metadata as a first-class relation: orders lands in a
    warehouse table partitioned by an 8-way key bucket, SHOW PARTITIONS
    enumerates the catalog's partition directory entries ('pk_bucket=3',
    with NULL keys under Hive's __HIVE_DEFAULT_PARTITION__), and each
    listed partition is verified against a partition-pruned read-back
    (count + price sum per partition — the groupBy key IS the partition
    column, so the scan prunes per-directory). The oracle recomputes the
    same inventory from the raw source — so a partition the writer
    dropped, duplicated, or mis-bucketed hash-fails. The numeric bucket
    key keeps partition values escape-free (unicode-tier order columns
    never reach the directory names). At 100 TB this is the layout-audit
    every partitioned sink needs: SHOW PARTITIONS is pure metadata and
    the read-back is one pruned pass; the build cost is paid once per
    corpus (``registry.warehouse_table``)."""
    t = Tables(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey",
        "o_totalprice",
        F.expr("cast((o_orderkey % 8 + 8) % 8 as string)").alias("pk_bucket"),
    )
    tab = warehouse_table(
        spark, sf_dir, "opart", src, lambda w: w.partitionBy("pk_bucket")
    )
    # The build's rename moves the table directory, but the catalog's
    # partition locations still point under the temp name: reads would see
    # zero partitions while SHOW PARTITIONS, pure metadata, still lists
    # them. RECOVER PARTITIONS rescans the directory and re-points them; on
    # a table built earlier in the session it changes nothing.
    spark.sql(f"ALTER TABLE {tab} RECOVER PARTITIONS")
    listed = (
        spark.sql(f"SHOW PARTITIONS {tab}")
        .select(
            F.substring_index(F.col("partition"), "=", -1).alias("pk_bucket")
        )
    )
    counts = (
        spark.table(tab)
        .groupBy(
            F.coalesce(F.col("pk_bucket"), F.lit(_HIVE_NULL)).alias(
                "pk_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            stable_rounded_sum("o_totalprice", 2).alias("price_sum"),
        )
    )
    # inner join: a partition must BOTH be listed in the catalog AND
    # carry the source's rows to survive into the checked relation
    return listed.join(counts, "pk_bucket").select(
        "pk_bucket", "n_rows", "price_sum"
    )


@register(
    "catalog_tblproperties_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  ('graft.retention', '30d'),
  ('graft.tier', 'silver')
) AS t(key, value)
""",
)
def catalog_tblproperties_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The table-property lifecycle, round-tripped through the catalog:
    CREATE TABLE ... TBLPROPERTIES seeds two properties
    (owner=ingest, tier=gold), ALTER TABLE SET overwrites one and adds
    another (tier→silver, retention=30d), ALTER TABLE UNSET removes the
    owner — so SHOW TBLPROPERTIES must surface EXACTLY
    {retention: 30d, tier: silver} under the graft.* namespace (engine-
    internal properties are filtered out; the oracle pins the expected
    bag as literals). The scratch table is per-process-named, built from
    the 5-row region dimension, and dropped before the result returns —
    SHOW TBLPROPERTIES is an eagerly-executed command, so its relation
    survives the drop. Catalog-only: constant cost at any scale."""
    register_views(spark, sf_dir)
    tab = f"graft_tprops_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tab}")
    spark.sql(
        f"""
        CREATE TABLE {tab} USING parquet
        TBLPROPERTIES ('graft.owner' = 'ingest', 'graft.tier' = 'gold')
        AS SELECT r_regionkey FROM region
        """
    )
    try:
        spark.sql(
            f"ALTER TABLE {tab} SET TBLPROPERTIES"
            " ('graft.retention' = '30d', 'graft.tier' = 'silver')"
        )
        spark.sql(f"ALTER TABLE {tab} UNSET TBLPROPERTIES ('graft.owner')")
        props = spark.sql(f"SHOW TBLPROPERTIES {tab}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tab}")
    return props.where(F.col("key").startswith("graft.")).select(
        "key", "value"
    )
