"""§2.AG round-14 block: parameterized SQL — the Python-side
`spark.sql(query, args=...)` binding API (SPARK-41666/44066) and SQL
session variables (DECLARE VARIABLE / SET VAR, SPARK-46908).

sql_script_execute_immediate_params covered SQL-side binding (EXECUTE
IMMEDIATE ... USING); these cover the API every PySpark application
actually parameterizes through: named `:param` markers bound from a dict
and positional `?` markers bound from a list. Parameter binding happens at
PARSE time as literals — the markers are not string substitution (no
injection surface, values arrive typed) and not columns (they fold like
constants, so Catalyst constant-folding and pushdown see them as
literals).

The contract proven here is literal-equivalence: the bound query must
plan and answer exactly as the same query with the values inlined — which
is precisely what the DuckDB oracle runs. A binding that coerced a type
(int → string), shifted a timestamp, or mis-ordered positional args
breaks the hash. Session variables resolve at analysis time too, so a
variable-parameterized query plans exactly like its literal twin (the
oracle inlines the variable's defining subquery verbatim).

Scale posture: zero runtime cost — bound parameters are parse-time
literals, so the filter they feed pushes to the scan exactly like a
hand-written constant (the predicate-pushdown property is what makes
parameterized ingest queries free at 100 TB)."""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (API symmetry)

from ai_dataingestion_spark.catalog import register, sql_op
from ai_dataingestion_spark.registry import register_views


@register(
    "sql_named_parameters",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM documents
WHERE n_chars >= 100 AND lang IN ('en', 'de')
GROUP BY lang
""",
)
def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named :param binding from a Python dict — a typed int threshold and
    two typed strings — in a query the oracle runs with the same values
    inlined. The int arrives as a BIGINT literal (not a string to cast):
    a coercion drift would change which n_chars rows qualify on the
    boundary and break the hash."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc
        FROM documents
        WHERE n_chars >= :min_chars AND lang IN (:lang_a, :lang_b)
        GROUP BY lang
        """,
        args={"min_chars": 100, "lang_a": "en", "lang_b": "de"},
    )


@register(
    "sql_positional_parameters",
    oracle="""
SELECT o_orderstatus AS status,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND o_totalprice > 1000.0
GROUP BY o_orderstatus
""",
)
def sql_positional_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional ? binding from a Python list — two datetime objects and
    a float, ORDER-SENSITIVE by definition (swapping the date bounds
    would empty the result; the oracle pins the correct order). The
    datetimes bind as TIMESTAMP_NTZ literals matching o_orderdate's type,
    so the range predicate pushes to the parquet scan like a hand-written
    constant."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus AS status,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderdate >= ? AND o_orderdate < ? AND o_totalprice > ?
        GROUP BY o_orderstatus
        """,
        args=[
            datetime.datetime(1996, 1, 1),
            datetime.datetime(1998, 1, 1),
            1000.0,
        ],
    )


sql_op(
    "sql_session_variables",
    spark_sql=(
        "DECLARE OR REPLACE VARIABLE graft_z_tbl STRING DEFAULT 'customer'",
        "DECLARE OR REPLACE VARIABLE graft_z_thresh DOUBLE",
        "SET VAR graft_z_thresh = (SELECT avg(c_acctbal) FROM customer)",
        """
SELECT c_mktsegment,
       count(*) AS n_above,
       coalesce(CAST(round(sum(c_acctbal) * 100) AS BIGINT), 0)
         AS bal_cents
FROM IDENTIFIER(graft_z_tbl)
WHERE c_acctbal > graft_z_thresh
GROUP BY c_mktsegment
""",
    ),
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_above,
       coalesce(CAST(round(sum(c_acctbal) * 100) AS BIGINT), 0)
         AS bal_cents
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_mktsegment
""",
    doc="""SQL session variables (SPARK-46908): DECLARE VARIABLE holds a
    session scalar, SET VAR binds it from a query (here the corpus-mean
    balance), and the consuming statement uses BOTH value substitution
    (the threshold predicate) and IDENTIFIER(variable) relation binding —
    the parameterized-notebook pattern without any client-side string
    splicing. Variables resolve at analysis time, so the plan equals the
    literal twin's (the threshold is a foldable scalar subquery result;
    the predicate still reaches the scan). Empty corpus: a NULL mean makes
    the predicate NULL and both engines return zero rows.""",
)
