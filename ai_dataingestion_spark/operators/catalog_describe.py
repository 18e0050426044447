"""§2.X completion (round 14): DESCRIBE ... AS JSON + the SHOW surface
(VERDICT-r13 item 6 / round-13 candidate (d)).

catalog_meta.py reads the live catalog through the spark.catalog API;
these operators read it through the SQL-statement surface an external tool
actually scripts against — `DESCRIBE EXTENDED t AS JSON` (Spark 4.0's
machine-readable DESCRIBE, SPARK-48641) and `SHOW TABLES` / `SHOW
COLUMNS` — and pin both against the declared schemas:

- the DESCRIBE JSON path proves the structured metadata document carries
  exactly the declared columns in order with the declared types (the
  document also carries created_time/owner fields that are
  nondeterministic BY DESIGN — the shred projects only the stable
  contract fields, which is itself the documented consumption pattern);
- the SHOW path proves the statement-level inventory (every registered
  relation listed as a temp view, with the declared column count).

Scale posture: both are driver-side metadata statements over the fixed
10-table dictionary — O(tables) one-row relations, zero data scanned,
same class as catalog_meta.py:19. Oracles are the declarations rendered
as literal rows (live == declared), generated at import time from
registry.SCHEMAS so a schema change updates oracle and expectation
together or fails loudly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.functions.portable import sql_quote
from ai_dataingestion_spark.registry import SCHEMAS, TABLE_NAMES, register_views


# DESCRIBE AS JSON renders the type's top-level name ("array" for
# array<float>, verified empirically against all 10 tables); mirror that
# from the declared simpleString.
def _json_type_name(simple: str) -> str:
    return simple.split("<", 1)[0]


_DESCRIBE_VALUES = ",\n  ".join(
    f"({sql_quote(t)}, {i}, {sql_quote(f.name)}, "
    f"{sql_quote(_json_type_name(f.dataType.simpleString()))}, true)"
    for t in TABLE_NAMES
    for i, f in enumerate(SCHEMAS[t].fields)
)

_SHOW_VALUES = ",\n  ".join(
    f"({sql_quote(t)}, true, {len(SCHEMAS[t].fields)})" for t in TABLE_NAMES
)


@register(
    "catalog_describe_json_columns",
    oracle=f"""
SELECT table_name, CAST(ordinal AS BIGINT) AS ordinal,
       column_name, type_name, nullable
FROM (VALUES
  {_DESCRIBE_VALUES}
) AS v(table_name, ordinal, column_name, type_name, nullable)
""",
)
def catalog_describe_json_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE EXTENDED <t> AS JSON for every registered view, the
    one-row JSON documents unioned and shredded JVM-side (from_json +
    posexplode over the columns array) into the stable per-column
    contract: (table, ordinal, name, type-name, nullable). Green means
    the machine-readable DESCRIBE — the document external catalog syncs
    consume — presents exactly the declared schema, ordinals included.
    Volatile document fields (created_time, created_by, location) are
    deliberately not projected; they are per-session facts, not schema
    contract. O(tables) driver statements; zero data scanned."""
    register_views(spark, sf_dir)
    docs = None
    for t in TABLE_NAMES:
        one = spark.sql(f"DESCRIBE EXTENDED {t} AS JSON")
        docs = one if docs is None else docs.unionByName(one)
    shape = (
        "table_name string, "
        "columns array<struct<name:string, type:struct<name:string>, "
        "nullable:boolean>>"
    )
    parsed = docs.select(F.from_json("json_metadata", shape).alias("d"))
    return parsed.select(
        F.col("d.table_name").alias("table_name"),
        F.posexplode("d.columns").alias("ordinal", "col"),
    ).select(
        "table_name",
        F.col("ordinal").cast("bigint").alias("ordinal"),
        F.col("col.name").alias("column_name"),
        F.col("col.type.name").alias("type_name"),
        F.col("col.nullable").alias("nullable"),
    )


@register(
    "catalog_show_surface",
    oracle=f"""
SELECT table_name, is_temporary, CAST(n_columns AS BIGINT) AS n_columns
FROM (VALUES
  {_SHOW_VALUES}
) AS v(table_name, is_temporary, n_columns)
""",
)
def catalog_show_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHOW-statement inventory: SHOW TABLES restricted to the
    registered dictionary (a shared session may carry other temp views —
    the contract is that OURS are all present as temp views, not that
    nothing else exists) joined with each relation's SHOW COLUMNS count.
    This is the statement surface shell scripts and BI tools probe before
    querying; green means it agrees with the declaration. O(tables)
    metadata statements, one bounded driver loop."""
    register_views(spark, sf_dir)
    tables = (
        spark.sql("SHOW TABLES")
        .filter(F.col("tableName").isin(list(TABLE_NAMES)))
        .select(
            F.col("tableName").alias("table_name"),
            F.col("isTemporary").alias("is_temporary"),
        )
    )
    counts = None
    for t in TABLE_NAMES:
        one = spark.sql(f"SHOW COLUMNS IN {t}").agg(
            F.count(F.lit(1)).alias("n_columns")
        ).select(F.lit(t).alias("table_name"), "n_columns")
        counts = one if counts is None else counts.unionByName(one)
    return tables.join(counts, "table_name").select(
        "table_name", "is_temporary", "n_columns"
    )
