"""§2.X round-13 third block: catalog metadata introspection
(spark.catalog / information-schema-shaped relations).

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import sql_quote
from ai_dataingestion_spark.registry import SCHEMAS, TABLE_NAMES, register_views


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
