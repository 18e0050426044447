"""SQL clauses: the statement-level surface a user migrating to Spark 4
writes in SQL — recursive CTEs (WITH RECURSIVE, SPARK-24497), GROUP BY ALL,
the PIVOT clause and named WINDOW definitions.

Each operator is one ``sql_op`` statement: Spark runs it over the corpus
views, and DuckDB runs the identical statement or, where the dialects
differ, the portable spelling of the same semantics, so the oracle pins
both the result and the output column names. Each dialect difference is
spelled out at its statement (VALUES-in-FROM parentheses, the ASC null
position, PIVOT vs FILTER columns). Money sums go through DECIMAL and are
rounded to cents before the DOUBLE cast.
"""

from __future__ import annotations

from ai_dataingestion_spark.catalog import sql_op


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
